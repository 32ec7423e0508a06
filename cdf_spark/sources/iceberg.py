"""Apache-Iceberg-format table reader: snapshot pinning, time travel,
and incremental `changes_since` over a REAL Iceberg directory layout.

Replaces the reference's Iceberg source
(`crates/cdf-source-iceberg/src/driver.rs:902-1060`) without Iceberg
jars: the table's *metadata* is plain JSON + Avro per the Iceberg spec,
and this repo already ships a jar-free Avro container codec
(`sources/avro_format.py`), so the whole planning path is readable
driver-side:

    <root>/metadata/version-hint.text        -> current metadata version
    <root>/metadata/v<N>.metadata.json       (or <seq>-<uuid>.metadata.json)
        format-version, current-snapshot-id,
        snapshots: [{snapshot-id, timestamp-ms, parent-snapshot-id,
                     manifest-list, summary.operation}]
    <manifest-list>.avro   rows: {manifest_path, added_snapshot_id, ...}
    <manifest>.avro        rows: {status: 0 EXISTING|1 ADDED|2 DELETED,
                                  data_file: {file_path, file_format,
                                              record_count, ...}}

Scale design: metadata is tiny and driver-side — exactly how Iceberg's
own planner works; the data path is a plain multi-file
`spark.read.parquet(*files)`, so predicate pushdown, column pruning,
and split planning stay with Catalyst, and snapshot isolation comes
from Iceberg's own file-immutability contract. `changes_since` unions
only the files ADDED by snapshots newer than the checkpointed position
(incremental consumption via
:class:`cdf_spark.positions.TableSnapshotPosition`).

A fixture writer (`write_iceberg_fixture`) emits the same layout —
spec-named fields, real Avro containers — so tests and the oracle gate
exercise the reader against a genuine Iceberg directory without
needing a JVM writer in the image.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..expressions.lowering import lower
from ..plans.layout import attach_file_values, file_key, scan_file_key
from ..plans.scan import Capability, ScanPlan, ScanRequest, negotiate
from ..positions import TableSnapshotPosition
from .avro_format import decode_container, write_container


class IcebergError(ValueError):
    pass


# -- single-value binary serialization (spec Appendix D) ---------------------
# Iceberg stores per-file column bounds as map<field-id, bytes> where the
# bytes are the spec's single-value binary form: little-endian fixed-width
# ints/floats, UTF-8 strings. Only the types the engine's bound pruning
# understands are encoded; anything else is skipped (no bound -> no prune,
# never a wrong prune).

import struct as _struct


def _encode_bound(value, typ: str) -> bytes | None:
    try:
        if typ == "int" or typ == "date":
            return _struct.pack("<i", int(value))
        if typ in ("long", "timestamp", "timestamptz"):
            return _struct.pack("<q", int(value))
        if typ == "float":
            return _struct.pack("<f", float(value))
        if typ == "double":
            return _struct.pack("<d", float(value))
        if typ == "string":
            return str(value).encode("utf-8")
    except (ValueError, TypeError, _struct.error):
        return None
    return None


def _decode_bound(data: bytes, typ: str):
    try:
        if typ == "int" or typ == "date":
            return _struct.unpack("<i", data)[0]
        if typ in ("long", "timestamp", "timestamptz"):
            return _struct.unpack("<q", data)[0]
        if typ == "float":
            return _struct.unpack("<f", data)[0]
        if typ == "double":
            return _struct.unpack("<d", data)[0]
        if typ == "string":
            return data.decode("utf-8")
    except (ValueError, UnicodeDecodeError, _struct.error):
        return None
    return None


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), the hash the Iceberg spec fixes
    for bucket transforms (spec Appendix B). Pure-Python: runs on the
    driver for literal projection and inside pandas UDFs for the
    fixture writer's bucket routing."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) == 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _bucket_hash_bytes(v, src_type: str) -> bytes | None:
    """Iceberg single-value hash input (spec Appendix B): int/long/
    date/timestamp hash as the 8-byte little-endian LONG (so 34 and
    34L bucket identically), strings as UTF-8 bytes."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if src_type == "date" and isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        v = (v - _dt.date(1970, 1, 1)).days
    elif src_type in ("timestamp", "timestamptz") and isinstance(v, _dt.datetime):
        base = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        # exact integer micros from timedelta components — float64
        # total_seconds() is off by 1us for many post-~2001 instants,
        # which would bucket-hash into the wrong partition
        td = v - base
        v = (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds
    if isinstance(v, int):
        try:
            return _struct.pack("<q", v)
        except _struct.error:
            return None
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return None


def _iceberg_bucket(v, n: int, src_type: str) -> int | None:
    data = _bucket_hash_bytes(v, src_type)
    if data is None:
        return None
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


def _bucket_pandas_udf(n: int, src_type: str):
    """Arrow-batched bucket transform for the fixture writer's
    distributed partitioned write — the same spec murmur3 the reader's
    literal projection uses, so routing and pruning can never disagree.
    (Spark's built-in `hash` is murmur3 with seed 42 over different
    byte layouts — NOT the Iceberg bucket function.)"""
    from pyspark.sql.functions import pandas_udf

    def f(s):
        def one(v):
            if v is None or (isinstance(v, float) and v != v):
                return None
            if hasattr(v, "date") and src_type == "date":
                v2 = v.date()
            elif hasattr(v, "item"):
                v2 = v.item()  # numpy scalar -> python
            else:
                v2 = v
            return _iceberg_bucket(v2, n, src_type)

        return s.map(one)

    return pandas_udf(f, "int")


def _session_tz_is_utc() -> bool:
    """True when the active Spark session's timezone is UTC (or there
    is no active session — pure-metadata callers use naive/UTC
    arithmetic throughout)."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is None:
            return True
        tz = (s.conf.get("spark.sql.session.timeZone", "UTC") or "UTC").upper()
        return tz in ("UTC", "Z", "GMT", "ETC/UTC", "ETC/GMT", "GMT0", "+00:00", "GREENWICH", "ZULU")
    except Exception:
        return True


def _parse_transform(t: str) -> tuple[str, int | None]:
    """'bucket[4]' -> ('bucket', 4); 'identity' -> ('identity', None)."""
    if "[" in t and t.endswith("]"):
        name, arg = t[:-1].split("[", 1)
        try:
            return name, int(arg)
        except ValueError:
            return name, None
    return t, None


def _transform_value_type(tname: str, src_type: str) -> str:
    """Iceberg type of the PARTITION VALUE a transform produces (what
    summary bounds and partition records are encoded as). day() is
    'date' in the spec but serializes as the same 4-byte LE int, so
    'int' decodes it faithfully here."""
    if tname == "identity":
        return src_type
    if tname == "truncate":
        return src_type
    return "int"  # bucket / year / month / day / hour


def _project_literal(v, tname: str, arg: int | None, src_type: str):
    """Transform a predicate literal into partition-value space; None =
    not projectable (wrong literal type / unsupported combination)."""
    import datetime as _dt

    if v is None or isinstance(v, bool):
        return None
    if tname == "bucket":
        return None if arg is None else _iceberg_bucket(v, arg, src_type)
    if tname == "truncate":
        if arg is None or arg <= 0:
            return None
        if isinstance(v, int):
            return v - (v % arg)  # python floor-mod == spec truncate
        if isinstance(v, str):
            return v[:arg]
        return None
    is_date = isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
    is_dt = isinstance(v, _dt.datetime)
    if not (is_date or is_dt):
        return None
    if tname == "year":
        return v.year - 1970
    if tname == "month":
        return (v.year - 1970) * 12 + (v.month - 1)
    if tname == "day":
        d = v.date() if is_dt else v
        return (d - _dt.date(1970, 1, 1)).days
    if tname == "hour":
        if not is_dt:
            return None
        base = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        td = v - base
        return (td.days * 86400 + td.seconds) // 3600
    return None


# order-preserving transforms admit range projection; bucket only eq
_ORDERED_TRANSFORMS = {"truncate", "year", "month", "day", "hour"}
# strict comparisons widen to inclusive in transformed space:
# col < lit  =>  t(col) <= t(lit)   (truncate/day/... round DOWN)
_PROJECT_OP = {"eq": "eq", "lt": "le", "le": "le", "gt": "ge", "ge": "ge"}


def _project_predicate(expr, tfields: dict[str, tuple]):
    """Rewrite a predicate into partition-transform space (Iceberg's
    'inclusive projection'): col-op-lit leaves on transformed partition
    columns become bounds checks on the derived partition value under a
    synthetic `$part$<spec_name>` key. Conservative: an unprojectable
    AND-conjunct is dropped (weaker predicate — only widens the scan);
    an unprojectable OR-disjunct poisons the whole disjunction. Returns
    None when nothing projectable survives.

    tfields: current column name -> (partition_key, transform_name,
    transform_arg, source_iceberg_type)."""
    from ..expressions.ast import Binary, Col, Lit

    if not isinstance(expr, Binary):
        return None
    if expr.op in ("and", "or"):
        l = _project_predicate(expr.left, tfields)
        r = _project_predicate(expr.right, tfields)
        if expr.op == "and":
            if l is not None and r is not None:
                return Binary("and", l, r)
            return l if l is not None else r
        return Binary("or", l, r) if (l is not None and r is not None) else None
    left, right, op = expr.left, expr.right, expr.op
    flip = {"lt": "gt", "le": "ge", "gt": "lt", "ge": "le", "eq": "eq"}
    if isinstance(left, Lit) and isinstance(right, Col):
        if op not in flip:
            return None
        left, right, op = right, left, flip[op]
    if not (isinstance(left, Col) and isinstance(right, Lit)):
        return None
    field = tfields.get(left.name)
    if field is None:
        return None
    pkey, tname, arg, src_type = field
    if tname == "bucket" and op != "eq":
        return None
    if tname in _ORDERED_TRANSFORMS and op not in _PROJECT_OP:
        return None
    op2 = _PROJECT_OP.get(op)
    if op2 is None:
        return None
    tv = _project_literal(right.value, tname, arg, src_type)
    if tv is None:
        return None
    return Binary(op2, Col(pkey), Lit(tv))


def _file_can_match(expr, bounds: dict[str, tuple]) -> bool | None:
    """Tri-state: can any row in a file with these per-column
    [lower, upper] bounds satisfy the predicate? False = provably no
    row matches (file prunable); True = provably some structure allows
    a match; None = undecidable (keep the file). Conservative by
    construction: only a False prunes, so an unknown column, op, or
    type can only WIDEN the scan, never corrupt it (same tri-state
    discipline as catalog partition pruning)."""
    from ..expressions.ast import Binary, Col, Lit, Unary

    if isinstance(expr, Unary):
        # NOT over an interval verdict is undecidable from bounds alone
        # (NOT(possibly-match) is still possibly-match) — keep the file
        return None
    if not isinstance(expr, Binary):
        return None
    op = expr.op
    if op in ("and", "or"):
        l = _file_can_match(expr.left, bounds)
        r = _file_can_match(expr.right, bounds)
        if op == "and":
            if l is False or r is False:
                return False
            return True if (l is True and r is True) else None
        if l is False and r is False:
            return False
        return True if (l is True or r is True) else None
    # normalize to  col op lit
    left, right = expr.left, expr.right
    flip = {"lt": "gt", "le": "ge", "gt": "lt", "ge": "le", "eq": "eq", "ne": "ne"}
    if isinstance(left, Lit) and isinstance(right, Col):
        left, right, op = right, left, flip.get(op)
        if op is None:
            return None
    if not (isinstance(left, Col) and isinstance(right, Lit)):
        return None
    if left.name not in bounds:
        return None
    lo, hi = bounds[left.name]
    v = right.value
    if lo is None or hi is None or v is None:
        return None
    try:
        if op == "eq":
            return None if (lo <= v <= hi) else False
        if op == "ne":
            return False if (lo == hi == v) else None
        if op == "lt":
            return False if lo >= v else None
        if op == "le":
            return False if lo > v else None
        if op == "gt":
            return False if hi <= v else None
        if op == "ge":
            return False if hi < v else None
    except TypeError:
        return None
    return None


def is_iceberg_layout(root: str | Path) -> bool:
    """True when the directory carries real Iceberg table metadata
    (`metadata/*.metadata.json`) as opposed to the home-grown
    SnapshotTable layout (`metadata/v<N>.json` + `current`)."""
    meta = Path(file_key(str(root))) / "metadata"
    return meta.is_dir() and any(meta.glob("*.metadata.json"))


class IcebergTable:
    """Read-side driver over an Iceberg table directory."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.meta_dir = self.root / "metadata"
        if not self.meta_dir.is_dir():
            raise IcebergError(f"{self.root} has no metadata/ directory — not an Iceberg table")
        self._meta = json.loads(self._current_metadata_path().read_text())

    # -- metadata resolution ---------------------------------------------
    def _current_metadata_path(self) -> Path:
        hint = self.meta_dir / "version-hint.text"
        if hint.exists():
            v = hint.read_text().strip()
            for cand in (f"v{v}.metadata.json", f"{v}.metadata.json"):
                p = self.meta_dir / cand
                if p.exists():
                    return p
        # no hint (metastore-tracked tables): newest by version prefix —
        # both v<N>.metadata.json and <seq>-<uuid>.metadata.json sort
        # correctly on the leading integer
        cands = list(self.meta_dir.glob("*.metadata.json"))
        if not cands:
            raise IcebergError(f"no *.metadata.json under {self.meta_dir}")

        def version_key(p: Path):
            m = re.match(r"v?(\d+)", p.name)
            return int(m.group(1)) if m else -1

        return max(cands, key=version_key)

    @property
    def metadata(self) -> dict:
        return self._meta

    def current_snapshot_id(self) -> int | None:
        sid = self._meta.get("current-snapshot-id")
        return None if sid in (None, -1) else int(sid)

    def snapshots(self) -> list[dict]:
        return list(self._meta.get("snapshots", []))

    def snapshot(self, snapshot_id: int) -> dict:
        for s in self.snapshots():
            if int(s["snapshot-id"]) == int(snapshot_id):
                return s
        raise IcebergError(f"snapshot {snapshot_id} not in table metadata")

    def snapshot_as_of(self, timestamp_ms: int) -> dict:
        """Latest snapshot with timestamp-ms <= the given time (Iceberg
        time travel `FOR SYSTEM_TIME AS OF` resolution)."""
        eligible = [s for s in self.snapshots() if int(s["timestamp-ms"]) <= timestamp_ms]
        if not eligible:
            raise IcebergError(f"no snapshot at or before {timestamp_ms}")
        return max(eligible, key=lambda s: int(s["timestamp-ms"]))

    def position(self) -> TableSnapshotPosition | None:
        sid = self.current_snapshot_id()
        if sid is None:
            return None
        seq = self.snapshot(sid).get("sequence-number")
        return TableSnapshotPosition(
            snapshot_id=sid, sequence_number=None if seq is None else int(seq)
        )

    def ancestry(self) -> list[dict]:
        """Snapshots on the current lineage, current-first, by walking
        `parent-snapshot-id` (driver.rs append_snapshot_ancestry).
        Snapshot ids are random 64-bit values on real tables — id order
        means NOTHING; only the parent chain (and v2 sequence numbers)
        orders commits."""
        by_id = {int(s["snapshot-id"]): s for s in self.snapshots()}
        chain: list[dict] = []
        sid = self.current_snapshot_id()
        while sid is not None and sid in by_id:
            s = by_id[sid]
            chain.append(s)
            parent = s.get("parent-snapshot-id")
            sid = None if parent in (None, -1) else int(parent)
        return chain

    # -- manifest walking --------------------------------------------------
    def _resolve(self, path: str) -> Path:
        p = Path(file_key(path))
        if p.is_absolute():
            return p
        return self.root / p

    def _manifest_list_rows(self, snapshot: dict) -> list[dict]:
        mlist = snapshot.get("manifest-list")
        if mlist:
            _, rows = decode_container(self._resolve(mlist).read_bytes())
            return rows
        # format-version 1 tables may inline "manifests"
        return [{"manifest_path": m} for m in snapshot.get("manifests", [])]

    def _manifest_paths(self, snapshot: dict) -> list[Path]:
        return [self._resolve(r["manifest_path"]) for r in self._manifest_list_rows(snapshot)]

    def _partition_fields(self) -> list[tuple[int, str, str, str]]:
        """Identity-transform fields of the default partition spec as
        (spec_position, spec_field_name, current_column_name,
        iceberg_type) — spec_position is the field's index within the
        FULL spec field list (the manifest-list partition summaries are
        positional over all spec fields, including non-identity ones,
        so a bucket transform ahead of an identity field must not shift
        the summary lookup); spec names address the typed partition
        records in manifest entries; current names (via source-id,
        rename-proof) address predicates. Non-identity transforms are
        skipped: their partition values are derived, and equating them
        with column values would prune wrongly."""
        return [
            (pos, spec_name, cur, typ)
            for pos, spec_name, cur, typ, tname, _arg in self._partition_fields_all()
            if tname == "identity"
        ]

    def _partition_fields_all(
        self, spec_id: int | None = None
    ) -> list[tuple[int, str, str, str, str, int | None]]:
        """EVERY field of one partition spec (default when `spec_id` is
        None — under PARTITION SPEC EVOLUTION each manifest names the
        spec its files were written with, and partition records must be
        interpreted under THAT spec) as (spec_position,
        spec_field_name, current_column_name, source_iceberg_type,
        transform_name, transform_arg). Transform-aware pruning
        projects predicates into the transform's value space (bucket:
        murmur3 eq-only; truncate/year/month/day/hour: order-preserving
        range projection) instead of skipping non-identity fields."""
        specs = {s.get("spec-id", 0): s for s in self._meta.get("partition-specs", [])}
        if spec_id is None:
            spec_id = self._meta.get("default-spec-id", 0)
        spec = specs.get(int(spec_id)) or {}
        names = self._field_names_by_id()
        types = self._field_types_by_id()
        out = []
        for pos, f in enumerate(spec.get("fields", [])):
            tname, arg = _parse_transform(str(f.get("transform", "identity")))
            sid = int(f["source-id"])
            if sid in names:
                out.append((pos, f["name"], names[sid], types.get(sid, ""), tname, arg))
        return out

    def _manifest_entries(self, manifest: Path) -> list[dict]:
        _, rows = decode_container(manifest.read_bytes())
        return rows

    def _seq_by_snapshot(self) -> dict[int, int]:
        return {
            int(s["snapshot-id"]): int(s["sequence-number"])
            for s in self.snapshots()
            if s.get("sequence-number") is not None
        }

    def _entry_sequence(self, entry: dict) -> int:
        """Data sequence number of a manifest entry. An explicit
        `sequence_number` wins; a null inherits from the committing
        snapshot (the v2 spec's inheritance rule — entries written by a
        commit carry that commit's sequence number unless pinned)."""
        seq = entry.get("sequence_number")
        if seq is not None:
            return int(seq)
        sid = entry.get("snapshot_id")
        if sid is not None:
            inherited = self._seq_by_snapshot().get(int(sid))
            if inherited is not None:
                return inherited
        return 0  # v1 tables: no sequence numbers; everything is seq 0

    def _live_entries(self, snapshot_id: int, content: int) -> list[tuple[str, int]]:
        files = []
        for mp in self._manifest_paths(self.snapshot(snapshot_id)):
            for e in self._manifest_entries(mp):
                dfile = e["data_file"]
                if int(e.get("status", 1)) != 2 and int(dfile.get("content") or 0) == content:
                    files.append((str(self._resolve(dfile["file_path"])), self._entry_sequence(e)))
        return sorted(files)

    def files_for_snapshot(self, snapshot_id: int) -> list[str]:
        """Live DATA files at a snapshot (content=0): manifest entries
        with status EXISTING(0) or ADDED(1); DELETED(2) rows drop out."""
        return [p for p, _ in self._live_entries(snapshot_id, content=0)]

    def data_files_with_seq(self, snapshot_id: int) -> list[tuple[str, int]]:
        """Live data files with their data sequence numbers — what
        delete-file scoping needs (a delete applies only to data
        committed strictly before it)."""
        return self._live_entries(snapshot_id, content=0)

    def delete_files_for_snapshot(self, snapshot_id: int) -> list[str]:
        """Live POSITIONAL-DELETE files (v2 content=1): parquet of
        (file_path, pos) rows marking data rows removed at this
        snapshot — merge-on-read row-level deletes."""
        return [p for p, _ in self._live_entries(snapshot_id, content=1)]

    _ICE_TO_SPARK = {
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamptz": T.TimestampType(),
    }

    def _schema_by_id(self, schema_id: int) -> dict:
        schemas = {s.get("schema-id", 0): s for s in self._meta.get("schemas", [])}
        found = schemas.get(int(schema_id))
        if found is not None:
            return found
        return schemas.get(self._meta.get("current-schema-id", 0), {})

    def _snapshot_schema_id(self, snapshot_id) -> int:
        """Schema the given snapshot's files were written with; falls
        back to the current schema for pre-evolution metadata that
        never recorded one."""
        cur = int(self._meta.get("current-schema-id", 0))
        if snapshot_id is None:
            return cur
        try:
            return int(self.snapshot(int(snapshot_id)).get("schema-id", cur))
        except IcebergError:
            return cur

    def _field_names_by_id(self) -> dict[int, str]:
        schemas = {s.get("schema-id", 0): s for s in self._meta.get("schemas", [])}
        cur = schemas.get(self._meta.get("current-schema-id", 0), {})
        return {int(f["id"]): f["name"] for f in cur.get("fields", [])}

    def _field_types_by_id(self) -> dict[int, str]:
        schemas = {s.get("schema-id", 0): s for s in self._meta.get("schemas", [])}
        cur = schemas.get(self._meta.get("current-schema-id", 0), {})
        return {int(f["id"]): str(f.get("type") or "") for f in cur.get("fields", [])}

    def _entry_bounds(self, entry: dict) -> dict[str, tuple]:
        """Column name -> (lower, upper) decoded from the entry's
        single-value-serialized bounds maps. Columns with missing,
        undecodable, or type-less bounds are simply absent — pruning
        treats absence as 'keep'."""
        names, types = self._field_names_by_id(), self._field_types_by_id()
        dfile = entry["data_file"]
        lo_raw = {int(kv["key"]): kv["value"] for kv in (dfile.get("lower_bounds") or [])}
        hi_raw = {int(kv["key"]): kv["value"] for kv in (dfile.get("upper_bounds") or [])}
        out: dict[str, tuple] = {}
        for fid in set(lo_raw) & set(hi_raw):
            typ = types.get(fid)
            if fid not in names or not typ:
                continue
            lo = _decode_bound(lo_raw[fid], typ)
            hi = _decode_bound(hi_raw[fid], typ)
            if lo is not None and hi is not None:
                out[names[fid]] = (lo, hi)
        return out

    def data_files_pruned(
        self, snapshot_id: int, predicates: list
    ) -> tuple[list[str], dict]:
        """Live data files that can possibly match the predicates,
        judged from each manifest entry's column bounds — the
        file-level pruning the reference's driver negotiates
        (`crates/cdf-source-iceberg/src/driver.rs:902-1060`) and what
        keeps a 100k-file snapshot from scanning every file for a
        point query. Conservative: a file is dropped only when a
        predicate is provably false over its [lower, upper] bounds.
        Returns (kept_paths, evidence) with total/kept/pruned counts."""
        # non-identity transform fields prune through PROJECTED
        # predicates evaluated against the transformed partition value
        # under a synthetic `$part$<spec_name>` key (keys never collide
        # with column stats, which live in source-value space)
        # timestamp-typed transform fields only prune under a UTC
        # session timezone: the projection treats a naive predicate
        # literal as a UTC instant while Spark's residual filter
        # interprets it in session tz — near boundaries a non-UTC
        # session could wrongly prune, so we widen (skip) instead
        ts_ok = _session_tz_is_utc()

        def _prunable(typ: str, tname: str) -> bool:
            return tname != "identity" and (ts_ok or typ not in ("timestamp", "timestamptz"))

        # PARTITION SPEC EVOLUTION: a manifest's partition records and
        # summaries are positional/named under the spec its files were
        # WRITTEN with (the row's partition_spec_id), not the table's
        # default — interpreting an old-spec record under the new spec
        # could wrongly prune live rows (same-named field, different
        # transform) or silently forgo pruning old-era files. Per-spec
        # interpretation is cached; rows with no spec id (pre-summary
        # containers) fall back to the default spec.
        default_spec = int(self._meta.get("default-spec-id", 0))
        _spec_cache: dict[int, tuple] = {}

        def spec_ctx(spec_id: int) -> tuple:
            got = _spec_cache.get(spec_id)
            if got is None:
                pfa = self._partition_fields_all(spec_id)
                p_fields = [
                    (pos, sn, cur, typ)
                    for pos, sn, cur, typ, tn, _a in pfa
                    if tn == "identity"
                ]
                tfields = {
                    cur: (f"$part${sn}", tn, arg, typ)
                    for _pos, sn, cur, typ, tn, arg in pfa
                    if _prunable(typ, tn)
                }
                t_meta = {
                    sn: (pos, f"$part${sn}", _transform_value_type(tn, typ))
                    for pos, sn, _cur, typ, tn, arg in pfa
                    if _prunable(typ, tn)
                }
                proj = [
                    q
                    for p in predicates
                    if (q := _project_predicate(p, tfields)) is not None
                ]
                got = _spec_cache[spec_id] = (p_fields, t_meta, proj)
            return got

        kept: list[str] = []
        total = 0
        manifests_total = manifests_skipped = 0
        bloom_pruned = 0
        # BLOOM DATA SKIPPING (point lookups): per-file sidecars under
        # _bloom_index/ prune equality probes on high-cardinality
        # columns whose manifest min/max spans every file — the
        # Iceberg parquet-bloom-filter analog kept in table-local
        # metadata. LINKED files (absolute paths outside this root,
        # from metadata translation) never consult the index — their
        # sidecars belong to the source table; they are simply kept.
        from .bloom_index import BloomProbe, bloom_can_match, indexed_columns

        _bcols = indexed_columns(self.root)
        _probe = BloomProbe(self.root, _bcols) if _bcols else None
        _root_resolved = self.root.resolve()
        for row in self._manifest_list_rows(self.snapshot(snapshot_id)):
            manifests_total += 1
            row_spec = row.get("partition_spec_id")
            part_fields, transform_meta, projected = spec_ctx(
                default_spec if row_spec is None else int(row_spec)
            )
            # manifest-LEVEL skip from the list's partition summaries:
            # at a 100k-file snapshot this avoids even OPENING manifests
            # whose partition range excludes the predicates. Summaries
            # are positional over the WRITING spec's full field list
            # (spec_ctx above), so old-spec manifests summary-prune
            # under their own field positions.
            summaries = row.get("partitions")
            if summaries and (part_fields or transform_meta):
                mbounds: dict[str, tuple] = {}
                summary_fields = [
                    (pos, cur_name, typ) for pos, _s, cur_name, typ in part_fields
                ] + [
                    (pos, pkey, vtyp) for pos, pkey, vtyp in transform_meta.values()
                ]
                for pos, key, typ in summary_fields:
                    if pos >= len(summaries):
                        continue
                    s = summaries[pos]
                    if s.get("contains_null"):
                        continue  # null partitions make the range undecidable
                    lo_b, hi_b = s.get("lower_bound"), s.get("upper_bound")
                    if lo_b is None or hi_b is None or not typ:
                        continue
                    lo, hi = _decode_bound(lo_b, typ), _decode_bound(hi_b, typ)
                    if lo is not None and hi is not None:
                        mbounds[key] = (lo, hi)
                if any(_file_can_match(p, mbounds) is False for p in predicates) or any(
                    _file_can_match(q, mbounds) is False for q in projected
                ):
                    # skipped manifests are never opened, so their
                    # entries are not in files_total — the whole point;
                    # manifests_skipped is the evidence for this level
                    manifests_skipped += 1
                    continue
            for e in self._manifest_entries(self._resolve(row["manifest_path"])):
                dfile = e["data_file"]
                if int(e.get("status", 1)) == 2 or int(dfile.get("content") or 0) != 0:
                    continue
                total += 1
                bounds = self._entry_bounds(e)
                part = dfile.get("partition")
                if part and part_fields:
                    # identity partition values are exact per-file
                    # constants: a (v, v) interval — reuses the same
                    # tri-state evaluator as column bounds
                    for _pos, spec_name, cur_name, _typ in part_fields:
                        v = part.get(spec_name)
                        if v is not None:
                            bounds[cur_name] = (v, v)
                if part and transform_meta:
                    # transformed partition values evaluate against the
                    # PROJECTED predicates under the synthetic key
                    for spec_name, (_pos, pkey, _vtyp) in transform_meta.items():
                        v = part.get(spec_name)
                        if v is not None:
                            bounds[pkey] = (v, v)
                if all(_file_can_match(p, bounds) is not False for p in predicates) and all(
                    _file_can_match(q, bounds) is not False for q in projected
                ):
                    apath = str(self._resolve(dfile["file_path"]))
                    if _probe is not None:
                        try:
                            rel = str(Path(apath).resolve().relative_to(_root_resolved))
                        except ValueError:
                            rel = None  # linked file — not ours to index
                        if rel is not None and any(
                            bloom_can_match(p, _probe, rel) is False
                            for p in predicates
                        ):
                            bloom_pruned += 1
                            continue
                    kept.append(apath)
        kept.sort()
        return kept, {
            "files_total": total,
            "files_kept": len(kept),
            "files_pruned": total - len(kept),
            "files_pruned_by_bloom": bloom_pruned,
            "manifests_total": manifests_total,
            "manifests_skipped": manifests_skipped,
        }

    def build_bloom_index(
        self, spark: SparkSession, col: str, snapshot_id: int | None = None
    ) -> dict:
        """Build/refresh the per-file bloom index of `col` for the
        live data files of a snapshot (default current) — the Iceberg
        parquet-bloom-filter analog (`_bloom_index/` sidecars) that
        `data_files_pruned` consults for equality data skipping.
        Incremental (already-indexed files skip); LINKED files outside
        this table root are never indexed — their lifecycle belongs to
        the source table."""
        from .bloom_index import build_bloom_index

        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        root_resolved = self.root.resolve()
        local = []
        for p in self.files_for_snapshot(snapshot_id):
            try:
                Path(p).resolve().relative_to(root_resolved)
            except ValueError:
                continue
            local.append(p)
        return build_bloom_index(spark, self.root, col, local)

    def equality_deletes_for_snapshot(
        self, snapshot_id: int
    ) -> list[tuple[str, list[str], int]]:
        """Live EQUALITY-DELETE files (v2 content=2) with their match
        columns and data sequence number. Match columns resolve from the
        entry's equality_ids through the metadata schema's field ids
        (the spec's indirection — names can be renamed, ids cannot); the
        sequence number scopes which data files the delete applies to
        (strictly lower seq only — delete-then-reinsert must keep the
        reinserted rows)."""
        by_id = self._field_names_by_id()
        return sorted(
            (d["path"], [by_id[int(i)] for i in d["ids"]], d["seq"])
            for d in self._eq_delete_entries(snapshot_id)
        )

    def _eq_delete_entries(self, snapshot_id: int) -> list[dict]:
        out = []
        for mp in self._manifest_paths(self.snapshot(snapshot_id)):
            for e in self._manifest_entries(mp):
                dfile = e["data_file"]
                if int(e.get("status", 1)) != 2 and int(dfile.get("content") or 0) == 2:
                    out.append(
                        {
                            "path": str(self._resolve(dfile["file_path"])),
                            "ids": [int(i) for i in (dfile.get("equality_ids") or [])],
                            "seq": self._entry_sequence(e),
                            "schema_id": self._snapshot_schema_id(e.get("snapshot_id")),
                        }
                    )
        return sorted(out, key=lambda d: d["path"])

    def _data_entries(self, snapshot_id: int) -> list[dict]:
        """Live data files with the schema id they were WRITTEN under
        (their committing snapshot's schema) — what evolution-aware
        assembly needs."""
        out = []
        for mp in self._manifest_paths(self.snapshot(snapshot_id)):
            for e in self._manifest_entries(mp):
                dfile = e["data_file"]
                if int(e.get("status", 1)) == 2 or int(dfile.get("content") or 0) != 0:
                    continue
                out.append(
                    {
                        "path": str(self._resolve(dfile["file_path"])),
                        "schema_id": self._snapshot_schema_id(e.get("snapshot_id")),
                        "partition": dfile.get("partition"),
                    }
                )
        return sorted(out, key=lambda d: d["path"])

    def _assemble(self, spark: SparkSession, entries: list[dict], with_meta: bool) -> DataFrame:
        """Union the data files resolved to the CURRENT schema: files
        written under an older schema get their columns renamed by
        FIELD ID (renames) and missing fields null-filled (adds) — the
        spec's read-time schema resolution. One spark.read per distinct
        written schema, so Catalyst still plans each group as a plain
        multi-file parquet scan with pushdown intact. A current field
        the written files lack is reconstituted from each file's
        identity-partition record (metadata-only partitioning, the
        Flink shape that OMITS the source column from the parquet), via
        `plans.layout.attach_file_values`. `with_meta` keeps
        (_file, _pos) row addresses for the delete-application joins
        (captured per group: `_metadata` does not survive a union)."""
        from collections import defaultdict
        from functools import reduce

        from pyspark.sql import functions as F

        cur_id = int(self._meta.get("current-schema-id", 0))
        cur_fields = self._schema_by_id(cur_id).get("fields", [])
        spec_to_cur = {spec: cur for _, spec, cur, _ in self._partition_fields()}
        by_schema: dict[int, list[dict]] = defaultdict(list)
        for e in entries:
            by_schema[int(e["schema_id"])].append(e)
        meta = ["_file", "_pos"] if with_meta else []
        dfs = []
        for schema_id, es in sorted(by_schema.items()):
            g = spark.read.parquet(*[e["path"] for e in es])
            if with_meta:
                g = g.withColumn("_file", scan_file_key()).withColumn(
                    "_pos", F.col("_metadata.row_index")
                )
            if not cur_fields:  # metadata without schemas: passthrough
                dfs.append(g)
                continue
            written = {
                int(f["id"]): f["name"]
                for f in self._schema_by_id(schema_id).get("fields", [])
            }
            stored = {f["name"]: written.get(int(f["id"])) for f in cur_fields}
            g = g.select(
                *[F.col(stored[n]).alias(n) for n in stored if stored[n] in g.columns], *meta
            )
            values = {
                e["path"]: {
                    spec_to_cur[spec]: v
                    for spec, v in (e.get("partition") or {}).items()
                    if spec in spec_to_cur
                }
                for e in es
            }
            g = attach_file_values(
                g,
                values,
                [
                    (f["name"], self._ICE_TO_SPARK.get(str(f.get("type") or ""), T.StringType()))
                    for f in cur_fields
                    if f["name"] not in g.columns
                ],
            )
            dfs.append(g.select(*[f["name"] for f in cur_fields], *meta))
        return reduce(DataFrame.unionByName, dfs)

    def added_files(self, snapshot_id: int) -> list[str]:
        """Files ADDED *by this snapshot*: status==ADDED(1) AND the
        entry's own snapshot_id matches — a snapshot's manifest list
        also references ancestor manifests whose ADDED entries belong
        to older commits (that is how Iceberg marks them live here)."""
        files = []
        for mp in self._manifest_paths(self.snapshot(snapshot_id)):
            for e in self._manifest_entries(mp):
                esid = e.get("snapshot_id")
                if int(e.get("status", 1)) == 1 and (
                    esid is None or int(esid) == int(snapshot_id)
                ):
                    files.append(str(self._resolve(e["data_file"]["file_path"])))
        return sorted(files)

    # -- metadata tables ---------------------------------------------------
    def metadata_count(self, snapshot_id: int | None = None) -> int | None:
        """COUNT(*) from manifest arithmetic alone — zero data files
        opened. Every engine's first 100 TB win: the manifests already
        carry exact per-file record_count, so a full count is
        O(manifest entries) driver metadata work instead of a cluster
        scan. Returns None (caller falls back to a real scan) whenever
        row-level deletes are live at the snapshot: positional deletes
        subtract exactly, but equality deletes subtract an UNKNOWN
        number of rows (their record_count counts delete keys, not
        matches), so metadata cannot answer exactly.

        Parity: Iceberg's own scan planning short-circuits count(*)
        the same way; the reference records per-batch row counts in
        package stats for the identical purpose
        (crates/cdf-kernel/src/statistics.rs)."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise IcebergError("table has no current snapshot")
        if self._eq_delete_entries(sid):
            return None
        total = 0
        deleted = 0
        for mp in self._manifest_paths(self.snapshot(sid)):
            for e in self._manifest_entries(mp):
                if int(e.get("status", 1)) == 2:
                    continue
                dfile = e["data_file"]
                content = int(dfile.get("content") or 0)
                if content == 0:
                    total += int(dfile.get("record_count") or 0)
                elif content == 1:
                    # positional delete: each row kills exactly one
                    # (file, pos) — exact subtraction
                    deleted += int(dfile.get("record_count") or 0)
        return total - deleted

    def metadata_bounds(self, column: str, snapshot_id: int | None = None):
        """(min, max) of a column from manifest entry bounds — exact
        only when NO row-level deletes are live (deletes can shrink the
        true range below what the bounds say); returns None then, or
        when any live file lacks bounds for the column."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise IcebergError("table has no current snapshot")
        if self._eq_delete_entries(sid) or self.delete_files_for_snapshot(sid):
            return None
        lo = hi = None
        for mp in self._manifest_paths(self.snapshot(sid)):
            for e in self._manifest_entries(mp):
                dfile = e["data_file"]
                if int(e.get("status", 1)) == 2 or int(dfile.get("content") or 0) != 0:
                    continue
                b = self._entry_bounds(e).get(column)
                if b is None or b[0] is None or b[1] is None:
                    return None
                lo = b[0] if lo is None else min(lo, b[0])
                hi = b[1] if hi is None else max(hi, b[1])
        if lo is None:
            return None
        return lo, hi

    def metadata_table(self, spark: SparkSession, name: str) -> DataFrame:
        """The observability surface real Iceberg exposes as
        `table$snapshots` / `table$files` / `table$manifests`: the
        table's own metadata as queryable DataFrames. Driver-side
        construction (metadata is tiny by design); the frames are
        plain rows, so operators/filters/joins compose normally —
        e.g. join `files` against a size threshold to pick compaction
        candidates."""
        if name == "snapshots":
            rows = [
                (
                    int(s["snapshot-id"]),
                    None if s.get("parent-snapshot-id") is None else int(s["parent-snapshot-id"]),
                    None if s.get("sequence-number") is None else int(s["sequence-number"]),
                    int(s["timestamp-ms"]),
                    str((s.get("summary") or {}).get("operation", "")),
                    int(s.get("schema-id", 0)),
                )
                for s in self.snapshots()
            ]
            return spark.createDataFrame(
                rows,
                "snapshot_id long, parent_id long, sequence_number long, "
                "committed_at_ms long, operation string, schema_id int",
            )
        if name == "refs":
            # the `table$refs` surface: tags AND branches, plus the
            # implicit main head — what an operator inspects before a
            # WAP publish or a tag-drop
            rows = [
                (rname, str(r.get("type", "tag")), int(r["snapshot-id"]))
                for rname, r in sorted((self._meta.get("refs") or {}).items())
            ]
            cur0 = self.current_snapshot_id()
            if cur0 is not None:
                rows.insert(0, ("main", "branch", int(cur0)))
            return spark.createDataFrame(
                rows, "name string, type string, snapshot_id long"
            )
        cur = self.current_snapshot_id()
        if cur is None:
            raise IcebergError("table has no current snapshot")
        if name == "files":
            rows = []
            for mp in self._manifest_paths(self.snapshot(cur)):
                for e in self._manifest_entries(mp):
                    d = e["data_file"]
                    if int(e.get("status", 1)) == 2:
                        continue
                    rows.append(
                        (
                            str(self._resolve(d["file_path"])),
                            int(d.get("content") or 0),
                            int(d.get("record_count") or 0),
                            int(d.get("file_size_in_bytes") or 0),
                            self._entry_sequence(e),
                            json.dumps(d.get("partition")) if d.get("partition") else None,
                        )
                    )
            return spark.createDataFrame(
                rows,
                "file_path string, content int, record_count long, "
                "file_size_in_bytes long, sequence_number long, partition string",
            )
        if name == "manifests":
            rows = [
                (
                    str(self._resolve(r["manifest_path"])),
                    int(r.get("manifest_length") or 0),
                    None if r.get("added_snapshot_id") is None else int(r["added_snapshot_id"]),
                    len(r.get("partitions") or []),
                )
                for r in self._manifest_list_rows(self.snapshot(cur))
            ]
            return spark.createDataFrame(
                rows,
                "manifest_path string, manifest_length long, "
                "added_snapshot_id long, partition_summaries int",
            )
        raise IcebergError(f"unknown metadata table {name!r} (snapshots|files|manifests)")

    # -- maintenance -------------------------------------------------------
    def expire_snapshots(
        self,
        older_than_ms: int | None = None,
        keep_last: int | None = None,
        delete_orphans: bool = False,
    ) -> dict:
        """Retention maintenance (Iceberg's expire_snapshots): drop
        snapshots outside the window from table metadata — a NEW
        metadata.json version, never an in-place edit — and identify
        files referenced ONLY by expired snapshots (orphans, deletable
        once no reader can pin them). The current snapshot is always
        retained; `keep_last` counts along the current ancestry chain;
        `older_than_ms` retains everything at-or-after the cutoff. The
        oldest retained snapshot may keep a dangling parent id — the
        ancestry walk already stops at unknown parents, and
        `changes_since` from an expired position raises (resume
        impossible) rather than guessing.

        At scale this is the op that bounds metadata size AND storage:
        without it every rewrite's files live forever."""
        cur = self.current_snapshot_id()
        if cur is None:
            raise IcebergError("table has no snapshots to expire")
        chain = self.ancestry()
        # tagged snapshots are PINNED: a tag is the promise that this
        # snapshot stays readable until the tag is dropped. A BRANCH
        # ref pins its whole reachable CHAIN back to the main ancestry
        # — expiring an intermediate branch snapshot would orphan the
        # head from its fork point and make fast_forward's ancestry
        # check (and branch time travel) impossible.
        retain = {cur} | {
            int(r["snapshot-id"])
            for r in (self._meta.get("refs") or {}).values()
        }
        by_id = {int(s["snapshot-id"]): s for s in self.snapshots()}
        for r in (self._meta.get("refs") or {}).values():
            if r.get("type") != "branch":
                continue
            node = int(r["snapshot-id"])
            while node is not None:
                retain.add(node)
                parent = by_id.get(node, {}).get("parent-snapshot-id")
                node = int(parent) if parent is not None else None
        if keep_last is not None:
            retain |= {int(s["snapshot-id"]) for s in chain[: max(1, keep_last)]}
        if older_than_ms is not None:
            retain |= {
                int(s["snapshot-id"])
                for s in self.snapshots()
                if int(s["timestamp-ms"]) >= older_than_ms
            }
        retained = [s for s in self.snapshots() if int(s["snapshot-id"]) in retain]
        expired = [s for s in self.snapshots() if int(s["snapshot-id"]) not in retain]
        result = {
            "expired": [int(s["snapshot-id"]) for s in expired],
            "retained": [int(s["snapshot-id"]) for s in retained],
            "orphan_files": [],
            "deleted": False,
        }
        if not expired:
            return result

        def _refs(snaps: list[dict]) -> set[str]:
            files: set[str] = set()
            for s in snaps:
                mlist = s.get("manifest-list")
                if mlist:
                    files.add(str(self._resolve(mlist)))
                for mp in self._manifest_paths(s):
                    files.add(str(mp))
                    for e in self._manifest_entries(mp):
                        files.add(str(self._resolve(e["data_file"]["file_path"])))
            return files

        root_resolved = self.root.resolve()

        def _owned(f: str) -> bool:
            # LINKED files (absolute paths outside this table — the
            # XTable/UniForm translation shape) are owned by the SOURCE
            # table; expiring a translated snapshot must never delete
            # another table's data
            try:
                Path(f).resolve().relative_to(root_resolved)
                return True
            except ValueError:
                return False

        all_orphans = sorted(_refs(expired) - _refs(retained))
        orphans = [f for f in all_orphans if _owned(f)]
        result["orphan_files"] = orphans
        result["external_linked_skipped"] = [f for f in all_orphans if not _owned(f)]

        hint = self.meta_dir / "version-hint.text"
        version = int(hint.read_text().strip()) + 1 if hint.exists() else 1
        meta = dict(self._meta)
        meta["snapshots"] = retained
        meta["snapshot-log"] = [
            entry
            for entry in meta.get("snapshot-log", [])
            if int(entry["snapshot-id"]) in retain
        ]
        (self.meta_dir / f"v{version}.metadata.json").write_text(json.dumps(meta, indent=2))
        hint.write_text(str(version))
        self._meta = meta
        if delete_orphans:
            for f in orphans:
                Path(f).unlink(missing_ok=True)
            result["deleted"] = True
            from .bloom_index import sweep_stale_sidecars

            result["blooms_deleted"] = sweep_stale_sidecars(self.root)
        return result

    def changelog_scan(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        cow_mode: str = "net",
    ) -> DataFrame:
        """Row-level CHANGELOG replay (Iceberg's
        incremental-changelog-scan): every snapshot strictly after
        `from_snapshot_id` (None = table start) contributes its exact
        changes, tagged `_change_type` ('insert' / 'delete') and
        `_snapshot_id` — the Iceberg twin of Delta's table_changes,
        and what removes changes_since's full-reread reset for CDC
        consumers across upserts.

        Per snapshot, derived from the commit's own metadata:
        - append: rows of the files ADDED by it are inserts (read at
          that snapshot, so its own sequence-scoped delete state
          applies — exactly the rows the commit introduced);
        - equality-delete upsert (the CDC shape `upsert_files` emits):
          delete preimages are the PARENT state's rows matching the
          snapshot's added delete-key files (null-safe), inserts are
          its added data files;
        - positional-delete commits (the shape Spark/Trino MERGE
          writes): delete preimages are the PARENT state's rows at
          the (file, pos) addresses the added delete files name —
          resolved with the same `_metadata.row_index` join the
          merge-on-read path uses; added data files are inserts;
        - replace (maintenance rewrites): no logical change, nothing;
        - copy-on-write overwrite / delete commits (no delete files):
          the commit's change set IS derivable from manifests — the
          files live at the parent but not at this snapshot are the
          removed files, and their rows at the parent are the delete
          preimages; added data files are inserts (the net-changes
          mode of Spark's own create_changelog_view procedure). A CoW
          rewrite carries unchanged rows from removed into added
          files, so `cow_mode` controls the false-pair treatment:
          'net' (default) diffs preimages against inserts with a
          multiset EXCEPT-ALL — exact row-level changes, one shuffle
          over O(files changed by the commit) rows, NOT O(table);
          'pairs' emits the raw preimage/insert sets (no shuffle,
          rewritten-unchanged rows appear as delete+insert pairs);
          'refuse' restores the pre-r10 refusal.

        Scale: every preimage read is pruned to the files the commit
        actually touched — positional deletes name their victim data
        files (read via `_files=`, O(files-with-deletes) not
        O(parent snapshot)); equality deletes prune parent files by
        manifest column bounds against the delete keys' [min, max];
        CoW commits read only the removed files. At a 100 TB table a
        10-file MERGE reads 10 files, not the table."""
        from functools import reduce

        from pyspark.sql import functions as F

        chain = list(reversed(self.ancestry()))  # oldest-first
        ids = [int(s["snapshot-id"]) for s in chain]
        if from_snapshot_id is not None:
            if int(from_snapshot_id) not in ids:
                raise IcebergError(
                    f"snapshot {from_snapshot_id} is not an ancestor of current"
                )
            chain = chain[ids.index(int(from_snapshot_id)) + 1 :]
        if to_snapshot_id is not None:
            if int(to_snapshot_id) not in {int(s["snapshot-id"]) for s in chain}:
                raise IcebergError(
                    f"snapshot {to_snapshot_id} is not in the changelog window"
                )
            keep = []
            for s in chain:
                keep.append(s)
                if int(s["snapshot-id"]) == int(to_snapshot_id):
                    break
            chain = keep
        parts: list[DataFrame] = []
        for snap in chain:
            sid = int(snap["snapshot-id"])
            op = str((snap.get("summary") or {}).get("operation", "append"))
            added_data: list[str] = []
            added_eq: list[dict] = []
            added_pos: list[str] = []
            for mp in self._manifest_paths(snap):
                for e in self._manifest_entries(mp):
                    if int(e.get("status", 1)) != 1 or int(e.get("snapshot_id") or -1) != sid:
                        continue
                    dfile = e["data_file"]
                    content = int(dfile.get("content") or 0)
                    if content == 0:
                        added_data.append(str(self._resolve(dfile["file_path"])))
                    elif content == 2:
                        added_eq.append(
                            {
                                "path": str(self._resolve(dfile["file_path"])),
                                "ids": [int(i) for i in (dfile.get("equality_ids") or [])],
                            }
                        )
                    else:
                        added_pos.append(str(self._resolve(dfile["file_path"])))
            if op == "replace":
                continue  # maintenance rewrite: no logical change
            snap_parts: list[DataFrame] = []
            parent = snap.get("parent-snapshot-id")
            if op in ("overwrite", "delete") and not added_eq and not added_pos:
                # COPY-ON-WRITE overwrite/delete: no delete files, but
                # the manifests still name the change set — the files
                # live at the parent and gone at this snapshot are the
                # removed files; their parent-state rows are the delete
                # preimages, added files are inserts (Spark changelog
                # procedure's net-changes derivation). Reads touch ONLY
                # the commit's removed/added files, never the table.
                if cow_mode == "refuse":
                    raise IcebergError(
                        f"snapshot {sid} ({op}) changed rows without delete "
                        "files and cow_mode='refuse' — consume from a snapshot"
                    )
                if cow_mode not in ("net", "pairs"):
                    raise IcebergError(f"unknown cow_mode {cow_mode!r}")
                cur_paths = {e["path"] for e in self._data_entries(sid)}
                prev_paths = (
                    {e["path"] for e in self._data_entries(int(parent))}
                    if parent is not None
                    else set()
                )
                removed = sorted(prev_paths - cur_paths)
                pre = (
                    self.read(spark, snapshot_id=int(parent), _files=removed)
                    if removed
                    else None
                )
                ins = (
                    self.read(spark, snapshot_id=sid, _files=added_data)
                    if added_data
                    else None
                )
                if cow_mode == "net" and pre is not None and ins is not None:
                    # a CoW rewrite copies unchanged rows from removed
                    # into added files; the multiset EXCEPT-ALL cancels
                    # those false pairs exactly. One shuffle over the
                    # commit's changed-file rows — O(commit), O(table)
                    # never enters the plan.
                    cols = sorted(pre.columns)
                    pre_s, ins_s = pre.select(*cols), ins.select(*cols)
                    pre, ins = pre_s.exceptAll(ins_s), ins_s.exceptAll(pre_s)
                if pre is not None:
                    snap_parts.append(pre.withColumn("_change_type", F.lit("delete")))
                if ins is not None:
                    snap_parts.append(ins.withColumn("_change_type", F.lit("insert")))
                for p in snap_parts:
                    parts.append(p.withColumn("_snapshot_id", F.lit(sid).cast("long")))
                continue
            if added_pos:
                if parent is None:
                    raise IcebergError(
                        f"snapshot {sid} carries positional deletes but has "
                        "no parent — nothing to delete from"
                    )
                # preimages: rows live at the PARENT snapshot at the
                # (file, pos) addresses the delete files name. The
                # delete files NAME their victim data files, so the
                # parent read is pruned to exactly those files via
                # `_files=` — O(files-with-deletes), not O(parent
                # snapshot): at a 100 TB table a 10-file MERGE reads
                # 10 files here (r8 verdict item 1). The parent read
                # keeps _file/_pos (the same row-address machinery the
                # merge-on-read path uses), the delete side is tiny
                # and broadcasts — one scan + a map-side semi-join,
                # no shuffle. Victim paths come off the tiny delete
                # files driver-side (pyarrow, no Spark job).
                import pyarrow.parquet as _pq

                victims: set[str] = set()
                for dp in added_pos:
                    for v in _pq.read_table(dp, columns=["file_path"]).column(
                        "file_path"
                    ).to_pylist():
                        victims.add(file_key(str(v)))
                prev = self.read(
                    spark,
                    snapshot_id=int(parent),
                    _keep_meta=True,
                    _files=sorted(victims),
                )
                dd = (
                    spark.read.parquet(*added_pos)
                    .select(
                        file_key(F.col("file_path")).alias("_file"),
                        F.col("pos").alias("_pos"),
                    )
                    .dropDuplicates()
                )
                snap_parts.append(
                    prev.join(F.broadcast(dd), on=["_file", "_pos"], how="left_semi")
                    .drop("_file", "_pos")
                    .withColumn("_change_type", F.lit("delete"))
                )
            if added_eq and parent is not None:
                names = self._field_names_by_id()
                # prune the parent preimage read by MANIFEST BOUNDS:
                # the delete-key files are tiny — take per-column
                # [min, max] (+ has-null) driver-side, then keep only
                # parent data files whose manifest column bounds can
                # possibly overlap some delete group's key range. A
                # file is dropped only when, for EVERY delete group,
                # some key column provably excludes it (no nulls in
                # that delete column, file bounds present, ranges
                # disjoint) — conservative: absent bounds keep the
                # file (r8 verdict item 1, equality branch).
                import pyarrow.parquet as _pq

                grp_stats: dict[tuple, dict] = {}
                for d in added_eq:
                    gcols = tuple(names[i] for i in d["ids"])
                    tbl = _pq.read_table(d["path"], columns=list(gcols))
                    st = grp_stats.setdefault(gcols, {})
                    for c in gcols:
                        col = tbl.column(c)
                        vals = [v for v in col.to_pylist() if v is not None]
                        prev_st = st.get(c)
                        has_null = col.null_count > 0 or not vals
                        if prev_st is not None:
                            mn, mx, hn = prev_st
                            has_null = has_null or hn
                            if vals:
                                mn = min(mn, min(vals)) if mn is not None else min(vals)
                                mx = max(mx, max(vals)) if mx is not None else max(vals)
                        else:
                            mn = min(vals) if vals else None
                            mx = max(vals) if vals else None
                        st[c] = (mn, mx, has_null)

                def _file_prunable(bounds: dict) -> bool:
                    for gcols, st in grp_stats.items():
                        excluded = False
                        for c in gcols:
                            mn, mx, hn = st[c]
                            b = bounds.get(c)
                            if hn or b is None or mn is None:
                                continue
                            try:
                                if b[1] < mn or b[0] > mx:
                                    excluded = True
                                    break
                            except TypeError:
                                continue
                        if not excluded:
                            return False  # this group might match
                    return True

                keep_files: list[str] = []
                for mp2 in self._manifest_paths(self.snapshot(int(parent))):
                    for e2 in self._manifest_entries(mp2):
                        d2 = e2["data_file"]
                        if (
                            int(e2.get("status", 1)) == 2
                            or int(d2.get("content") or 0) != 0
                        ):
                            continue
                        path2 = str(self._resolve(d2["file_path"]))
                        if not _file_prunable(self._entry_bounds(e2)):
                            keep_files.append(path2)
                prev = self.read(
                    spark, snapshot_id=int(parent), _files=sorted(set(keep_files))
                )
                keys = None
                for d in added_eq:
                    cols = [names[i] for i in d["ids"]]
                    k = spark.read.parquet(d["path"]).select(*cols).dropDuplicates()
                    keys = k if keys is None else keys.unionByName(k).dropDuplicates()
                cond = reduce(
                    lambda a, b: a & b,
                    [prev[c].eqNullSafe(keys[c]) for c in keys.columns],
                )
                snap_parts.append(
                    prev.join(F.broadcast(keys), on=cond, how="left_semi").withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
            if added_data:
                snap_parts.append(
                    self.read(spark, snapshot_id=sid, _files=added_data).withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            for p in snap_parts:
                parts.append(p.withColumn("_snapshot_id", F.lit(sid).cast("long")))
        if not parts:
            raise IcebergError("no snapshots in range produced changes")
        # schema evolution inside the window: older snapshots lack the
        # widened columns — null-fill them (the same semantics their
        # snapshot reads have)
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def changelog_scan_between_timestamps(
        self,
        spark: SparkSession,
        start_ms: int | None = None,
        end_ms: int | None = None,
        cow_mode: str = "net",
    ) -> DataFrame:
        """Timestamp-addressed CHANGELOG window — the Iceberg twin of
        Delta's `table_changes_between_timestamps` and the resolution
        Spark's incremental read options (`start-timestamp` /
        `end-timestamp`) use: a bound maps to the LATEST snapshot with
        timestamp-ms <= the bound (the same `snapshot_as_of` rule as
        time travel), so the window replays every snapshot committed
        strictly after `start_ms`'s resolution up to and including
        `end_ms`'s. `start_ms` before the first commit means
        table-start (changes from the beginning); `end_ms=None` means
        the current head. Errors on an empty resolved window rather
        than returning a silent nothing."""
        chain = list(reversed(self.ancestry()))
        if not chain:
            raise IcebergError("table has no snapshots")
        from_id: int | None = None
        if start_ms is not None:
            at_or_before = [
                s for s in chain if int(s["timestamp-ms"]) <= int(start_ms)
            ]
            if at_or_before:
                from_id = int(at_or_before[-1]["snapshot-id"])
            # else: start precedes the first commit -> table start
        to_id: int | None = None
        if end_ms is not None:
            at_or_before = [s for s in chain if int(s["timestamp-ms"]) <= int(end_ms)]
            if not at_or_before:
                raise IcebergError(
                    f"no snapshot at or before end timestamp {end_ms}"
                )
            to_id = int(at_or_before[-1]["snapshot-id"])
            if from_id is not None and to_id == from_id:
                raise IcebergError(
                    f"timestamp window [{start_ms}, {end_ms}] resolves to an "
                    "empty snapshot range"
                )
        return self.changelog_scan(
            spark, from_snapshot_id=from_id, to_snapshot_id=to_id, cow_mode=cow_mode
        )

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Named snapshot TAG (Iceberg v2 `refs`): pin a snapshot under
        a stable name — the release/audit pin that survives snapshot
        expiry (expire_snapshots retains tagged snapshots and their
        files). Metadata-only: a new metadata.json version carries the
        ref; the tag resolves via `read(tag=...)` / `ref_snapshot`."""
        sid = int(snapshot_id if snapshot_id is not None else self.current_snapshot_id())
        self.snapshot(sid)  # must exist
        refs = dict(self._meta.get("refs", {}))
        if name in refs:
            raise IcebergError(f"ref {name!r} already exists")
        refs[name] = {"snapshot-id": sid, "type": "tag"}
        hint = self.meta_dir / "version-hint.text"
        version = int(hint.read_text().strip()) + 1 if hint.exists() else 1
        meta = dict(self._meta)
        meta["refs"] = refs
        (self.meta_dir / f"v{version}.metadata.json").write_text(json.dumps(meta, indent=2))
        hint.write_text(str(version))
        self._meta = meta
        return sid

    def drop_tag(self, name: str) -> None:
        refs = dict(self._meta.get("refs", {}))
        if name not in refs:
            raise IcebergError(f"ref {name!r} does not exist")
        del refs[name]
        hint = self.meta_dir / "version-hint.text"
        version = int(hint.read_text().strip()) + 1 if hint.exists() else 1
        meta = dict(self._meta)
        meta["refs"] = refs
        (self.meta_dir / f"v{version}.metadata.json").write_text(json.dumps(meta, indent=2))
        hint.write_text(str(version))
        self._meta = meta

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Named BRANCH ref (Iceberg v2 `refs`, type=branch): a movable
        head forked from a snapshot — the staging side of
        Write-Audit-Publish. Writer commits with `branch=name` advance
        this ref; the main table never sees them until
        `fast_forward`."""
        sid = int(snapshot_id if snapshot_id is not None else self.current_snapshot_id())
        self.snapshot(sid)  # must exist
        refs = dict(self._meta.get("refs", {}))
        if name in refs:
            raise IcebergError(f"ref {name!r} already exists")
        refs[name] = {"snapshot-id": sid, "type": "branch"}
        hint = self.meta_dir / "version-hint.text"
        version = int(hint.read_text().strip()) + 1 if hint.exists() else 1
        meta = dict(self._meta)
        meta["refs"] = refs
        (self.meta_dir / f"v{version}.metadata.json").write_text(json.dumps(meta, indent=2))
        hint.write_text(str(version))
        self._meta = meta
        return sid

    def fast_forward(self, branch: str) -> int:
        """PUBLISH a branch (Iceberg's fastForward): make the branch
        head the table's current snapshot. Only legal when the current
        snapshot is an ANCESTOR of the branch head — a diverged main
        (someone committed to the table after the fork) must raise, or
        the publish would silently drop those commits. Metadata-only;
        the branch ref stays (drop it separately when the audit cycle
        is done)."""
        ref = (self._meta.get("refs") or {}).get(branch)
        if ref is None or ref.get("type") != "branch":
            raise IcebergError(f"branch {branch!r} does not exist")
        head = int(ref["snapshot-id"])
        cur = self.current_snapshot_id()
        if head == cur:
            raise IcebergError(f"branch {branch!r} is already at the current snapshot")
        # walk the BRANCH's ancestry; current must be on it
        by_id = {int(s["snapshot-id"]): s for s in self.snapshots()}
        node, chain = head, set()
        while node is not None:
            chain.add(node)
            parent = by_id.get(node, {}).get("parent-snapshot-id")
            node = int(parent) if parent is not None else None
        if cur not in chain:
            raise IcebergError(
                f"cannot fast-forward: current snapshot {cur} is not an "
                f"ancestor of branch {branch!r} head {head} — main diverged "
                "after the fork; rebase the branch instead"
            )
        hint = self.meta_dir / "version-hint.text"
        version = int(hint.read_text().strip()) + 1 if hint.exists() else 1
        meta = dict(self._meta)
        meta["current-snapshot-id"] = head
        log = list(meta.get("snapshot-log", []))
        log.append({"snapshot-id": head, "timestamp-ms": int(time.time() * 1000)})
        meta["snapshot-log"] = log
        (self.meta_dir / f"v{version}.metadata.json").write_text(json.dumps(meta, indent=2))
        hint.write_text(str(version))
        self._meta = meta
        return head

    def ref_snapshot(self, name: str) -> int:
        ref = (self._meta.get("refs") or {}).get(name)
        if ref is None:
            raise IcebergError(f"ref {name!r} does not exist")
        return int(ref["snapshot-id"])

    def rollback_to(self, snapshot_id: int) -> int:
        """ROLLBACK (Iceberg's rollback_to_snapshot): make an ANCESTOR
        snapshot current again — the first-reach-for op after a bad
        commit. Metadata-only and history-preserving: a NEW
        metadata.json version points current-snapshot-id at the
        ancestor; the abandoned snapshots stay in the snapshot list
        (and on disk) until expire_snapshots reclaims them, so the
        mistake remains inspectable. Only ancestors are valid targets
        (rolling 'back' to a non-ancestor would silently fork
        history); incremental consumers positioned past the rollback
        point correctly fail their ancestry check and re-read."""
        chain = {int(s["snapshot-id"]) for s in self.ancestry()}
        if snapshot_id not in chain:
            raise IcebergError(
                f"snapshot {snapshot_id} is not an ancestor of the current "
                "snapshot — rollback would fork history"
            )
        hint = self.meta_dir / "version-hint.text"
        version = int(hint.read_text().strip()) + 1 if hint.exists() else 1
        meta = dict(self._meta)
        meta["current-snapshot-id"] = int(snapshot_id)
        log = list(meta.get("snapshot-log", []))
        log.append(
            {"snapshot-id": int(snapshot_id), "timestamp-ms": int(time.time() * 1000)}
        )
        meta["snapshot-log"] = log
        (self.meta_dir / f"v{version}.metadata.json").write_text(json.dumps(meta, indent=2))
        hint.write_text(str(version))
        self._meta = meta
        return int(snapshot_id)

    def remove_orphan_files(
        self,
        older_than_ms: int | None = None,
        dry_run: bool = False,
    ) -> dict:
        """Reclaim files under `data/` that NO snapshot references —
        the leftovers of crashed writers (staged parquet whose commit
        never landed). Complements expire_snapshots, which only
        reclaims files referenced by expired snapshots; a file that was
        never committed is invisible to it.

        Safety rules, same as Iceberg's RemoveOrphanFiles:
        - only files under the table's data dir are considered;
        - the referenced set is the union over ALL snapshots (current
          and historical) of every manifest entry's file_path — an
          uncommitted-but-about-to-commit file can only be protected by
          the age cutoff, so `older_than_ms` defaults to 3 days like
          the real procedure; pass an explicit cutoff in tests;
        - metadata files (manifests, manifest lists) are never touched
          here — they are reclaimed by expire_snapshots."""
        import time as _time

        cutoff = (
            older_than_ms
            if older_than_ms is not None
            else int(_time.time() * 1000) - 3 * 24 * 3600 * 1000
        )
        referenced: set[str] = set()
        for s in self.snapshots():
            for mp in self._manifest_paths(s):
                for e in self._manifest_entries(mp):
                    referenced.add(str(self._resolve(e["data_file"]["file_path"])))
        deleted: list[str] = []
        kept_recent: list[str] = []
        data_dir = self.root / "data"
        if data_dir.exists():
            for p in sorted(data_dir.rglob("*")):
                if not p.is_file():
                    continue
                rp = str(p)
                if rp in referenced:
                    continue
                if int(p.stat().st_mtime * 1000) >= cutoff:
                    kept_recent.append(rp)
                    continue
                if not dry_run:
                    p.unlink()
                deleted.append(rp)
        blooms_deleted: list[str] = []
        if deleted and not dry_run:
            from .bloom_index import sweep_stale_sidecars

            blooms_deleted = sweep_stale_sidecars(self.root)
        return {
            "deleted": deleted,
            "kept_recent": kept_recent,
            "blooms_deleted": blooms_deleted,
            "dry_run": dry_run,
        }

    # -- reads -------------------------------------------------------------
    def capabilities(self) -> Capability:
        cap = Capability.parquet()
        cap.position_enforced = True  # snapshot pin IS the position
        return cap

    def scan(
        self,
        spark: SparkSession,
        request: ScanRequest,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
    ) -> tuple[DataFrame, ScanPlan]:
        """Negotiated scan against a pinned snapshot — same pushdown
        contract as SnapshotTable.scan: Catalyst pushes predicates and
        projection into the multi-file parquet scan; the plan records
        the negotiation for replay."""
        plan = negotiate(request, self.capabilities())
        if snapshot_id is None:
            snap = (
                self.snapshot_as_of(as_of_ms)
                if as_of_ms is not None
                else self.snapshot(self.current_snapshot_id())
            )
            snapshot_id = int(snap["snapshot-id"])
        # file-level pruning against manifest column bounds BEFORE the
        # parquet scan: every request predicate is re-enforced
        # engine-side below (pushed are Inexact for parquet), so
        # pruning on any of them is consistent — files that survive
        # still pass through the exact row filters.
        files, prune_meta = self.data_files_pruned(snapshot_id, request.predicates)
        from ..plans.scan import PartitionPlan as _PP

        plan.partitions = _PP(
            kind="files",
            units=[{"path": p} for p in files],
            meta={**prune_meta, "snapshot_id": snapshot_id},
        )
        df = self.read(spark, snapshot_id=snapshot_id, _files=files)
        if plan.projection:
            df = df.select(*plan.projection)
        # pushed predicates re-apply row-level (these readers ARE the
        # engine — Spark's parquet pushdown rides the filter), and
        # UNSUPPORTED ones must apply too: negotiate() classifies
        # composite/unfamiliar shapes as unsupported for the SOURCE,
        # which obliges the engine to enforce them itself — silently
        # dropping them returned extra rows (caught by the delta
        # data-skipping tests, latent in five scan paths).
        for p in plan.pushed + plan.residual + plan.unsupported:
            df = df.filter(lower(p.expr))
        if plan.order_by:
            from pyspark.sql import functions as F

            df = df.orderBy(
                *[
                    F.col(o.field).asc() if o.ascending else F.col(o.field).desc()
                    for o in plan.order_by
                ]
            )
        if plan.limit is not None:
            df = df.limit(plan.limit)
        return df, plan

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        _files: list[str] | None = None,
        tag: str | None = None,
        _keep_meta: bool = False,
    ) -> DataFrame:
        if tag is not None:
            if snapshot_id is not None or as_of_ms is not None:
                raise IcebergError("pass exactly one of tag / snapshot_id / as_of_ms")
            snapshot_id = self.ref_snapshot(tag)
        if snapshot_id is None:
            snap = (
                self.snapshot_as_of(as_of_ms)
                if as_of_ms is not None
                else self.snapshot(self.current_snapshot_id())
            )
            snapshot_id = int(snap["snapshot-id"])
        entries = self._data_entries(snapshot_id)
        if not entries:
            raise IcebergError(f"snapshot {snapshot_id} has no live data files")
        if _files is not None:
            keep = set(_files)
            sel_entries = [e for e in entries if e["path"] in keep]
        else:
            sel_entries = entries
        dels = self.delete_files_for_snapshot(snapshot_id)
        eq = self._eq_delete_entries(snapshot_id)
        if not sel_entries:
            # every file pruned: empty result with the current schema
            schema = self._assemble(spark, entries, with_meta=False).schema
            return spark.createDataFrame([], schema)
        with_meta = bool(dels or eq) or _keep_meta
        df = self._assemble(spark, sel_entries, with_meta=with_meta)
        orig_cols = [c for c in df.columns if c not in ("_file", "_pos")]
        if dels:
            # v2 positional deletes, merge-on-read: anti-join data rows
            # against the delete set on (file, row position). Spark's
            # parquet _metadata.row_index supplies the position without
            # any bespoke row numbering; the delete side is tiny and
            # broadcasts, so the plan stays one scan + a map-side
            # anti-join — no shuffle added to the read path.
            from pyspark.sql import functions as F

            dd = spark.read.parquet(*dels).select(
                file_key(F.col("file_path")).alias("_file"), F.col("pos").alias("_pos")
            )
            df = df.join(F.broadcast(dd), on=["_file", "_pos"], how="left_anti")
        if eq:
            # v2 equality deletes, sequence-scoped per the spec: a
            # delete with data sequence number S removes matching rows
            # ONLY from data files with sequence number < S — rows
            # re-inserted by a later data commit survive
            # (delete-then-reinsert). Each data row gets its file's
            # sequence number via a broadcast join on a tiny
            # (file, seq) table (scales to 100k-file snapshots where a
            # literal map expression would not); each match-column
            # group reduces its delete rows to max(seq) per key and a
            # left-join + filter keeps rows with no matching delete or
            # a delete that is not newer than the row's data file.
            # Delete files written under an OLDER schema have their
            # match columns renamed to current names by field id.
            from collections import defaultdict
            from functools import reduce

            from pyspark.sql import functions as F

            cur_names = self._field_names_by_id()
            seq_rows = [(file_key(p), int(s)) for p, s in self.data_files_with_seq(snapshot_id)]
            seq_df = spark.createDataFrame(seq_rows, "_file string, _dseq long")
            df = df.join(F.broadcast(seq_df), on="_file", how="left")
            grouped: dict[tuple[str, ...], list] = defaultdict(list)
            for d in eq:
                names = tuple(cur_names[int(i)] for i in d["ids"])
                grouped[names].append(d)
            for names, dentries in grouped.items():
                parts = []
                for d in dentries:
                    written = {
                        int(f["id"]): f["name"]
                        for f in self._schema_by_id(d["schema_id"]).get("fields", [])
                    }
                    parts.append(
                        spark.read.parquet(d["path"])
                        .select(
                            *[
                                F.col(written.get(int(i), cur_names[int(i)])).alias(
                                    cur_names[int(i)]
                                )
                                for i in d["ids"]
                            ]
                        )
                        .withColumn("_del_seq", F.lit(int(d["seq"])))
                    )
                dd = reduce(DataFrame.unionByName, parts).groupBy(*names).agg(
                    F.max("_del_seq").alias("_del_seq")
                )
                # null-SAFE match: the Iceberg spec treats NULL as equal
                # for equality deletes, so a null-keyed delete must kill
                # null-keyed rows — a plain on=names join would let them
                # resurrect. Delete keys get prefixed aliases so the
                # eqNullSafe condition is unambiguous.
                dk = [f"_dk_{i}" for i in range(len(names))]
                dd2 = dd.select(
                    *[F.col(n).alias(a) for n, a in zip(names, dk)], "_del_seq"
                )
                cond = reduce(
                    lambda a, b: a & b,
                    [F.col(n).eqNullSafe(F.col(a)) for n, a in zip(names, dk)],
                )
                df = (
                    df.join(F.broadcast(dd2), on=cond, how="left")
                    .filter(F.col("_del_seq").isNull() | (F.col("_del_seq") <= F.col("_dseq")))
                    .drop("_del_seq", *dk)
                )
        if _keep_meta:
            # caller wants row addresses (_file, _pos) alongside the
            # data — the changelog's pos-delete preimage join needs them
            return df.select(*orig_cols, "_file", "_pos")
        return df.select(*orig_cols)  # drop helpers, restore column order

    def changes_since(
        self, spark: SparkSession, position: TableSnapshotPosition | None
    ) -> tuple[DataFrame | None, TableSnapshotPosition | None]:
        """Files ADDED by snapshots strictly after the position, oldest
        first — the incremental-consumption contract shared with
        :class:`cdf_spark.sources.snapshot_table.SnapshotTable`.

        Ordering comes from the parent-snapshot-id ancestry walk, NOT
        from snapshot-id comparison: real Iceberg snapshot ids are
        random 64-bit values, so `id > seen` both loses newer snapshots
        with smaller ids (silent incremental data loss) and replays
        non-ancestors. If the checkpointed snapshot is no longer an
        ancestor of current (rollback / expired history), this raises
        rather than guessing — the caller must do a full re-read
        (driver.rs append_snapshot_ancestry makes the same choice)."""
        cur = self.current_snapshot_id()
        if cur is None:
            return None, position
        chain = self.ancestry()  # current-first
        cur_seq = chain[0].get("sequence-number")
        new_pos = TableSnapshotPosition(
            snapshot_id=cur, sequence_number=None if cur_seq is None else int(cur_seq)
        )
        if position is None:
            newer = chain
        else:
            seen = int(position.snapshot_id)
            if seen == cur:
                return None, new_pos
            ids = [int(s["snapshot-id"]) for s in chain]
            if seen not in ids:
                raise IcebergError(
                    f"checkpointed snapshot {seen} is not an ancestor of current "
                    f"snapshot {cur} (rollback or expired history) — incremental "
                    "consumption cannot resume; full re-read required"
                )
            newer = chain[: ids.index(seen)]  # strictly after `seen`
        # a non-append commit (overwrite/delete/replace) invalidates
        # added-files-only consumption: rows the consumer already saw
        # may be gone. Reset to a full read of current — the contract
        # SnapshotTable.changes_since established for this engine.
        if any(
            (s.get("summary") or {}).get("operation", "append") != "append" for s in newer
        ):
            return self.read(spark, snapshot_id=cur), new_pos
        files: list[str] = []
        for s in reversed(newer):  # oldest first
            files.extend(self.added_files(int(s["snapshot-id"])))
        if not files:
            return None, new_pos
        return spark.read.parquet(*files), new_pos


# ---------------------------------------------------------------------------
# fixture writer (spec-shaped layout, real Avro containers)

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        # data sequence number (v2): null inherits from the committing
        # snapshot; explicit values pin the entry's commit order for
        # delete-file scoping
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # 0 = data, 1 = position deletes, 2 = equality
                    # deletes (Iceberg v2)
                    {"name": "content", "type": "int", "default": 0},
                    # field ids (metadata schema) an equality-delete
                    # file matches on; null for data/positional files
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "default": None,
                    },
                    # per-column min/max in the spec's single-value
                    # binary form, keyed by field id — what file-level
                    # predicate pruning reads (spec k/v-list encoding
                    # of map<int, bytes>)
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k126_v127",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k129_v130",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
        # per-partition-field summaries over the manifest's entries
        # (spec field_summary r508): lets planners skip whole manifests
        # before reading a single entry
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {"name": "contains_null", "type": "boolean"},
                            {"name": "lower_bound", "type": ["null", "bytes"], "default": None},
                            {"name": "upper_bound", "type": ["null", "bytes"], "default": None},
                        ],
                    },
                },
            ],
            "default": None,
        },
    ],
}


class IcebergFixtureWriter:
    """Builds an Iceberg-layout table commit by commit, for tests and
    the oracle gate. Emits version-hint.text + v<N>.metadata.json +
    manifest-list/manifest Avro + immutable parquet data files — the
    same names and structure `IcebergTable` reads."""

    def __init__(
        self,
        root: str | Path,
        table_uuid: str | None = None,
        seed: int | None = None,
        partition_by: list[str] | None = None,
        omit_partition_cols: bool = False,
        max_partitions_per_commit: int = 10_000,
    ):
        import random

        self.root = Path(root)
        (self.root / "metadata").mkdir(parents=True, exist_ok=True)
        (self.root / "data").mkdir(exist_ok=True)
        self.table_uuid = table_uuid or str(uuid.uuid4())
        # partition spec: each commit's files are split by the
        # partition tuple, entries carry a TYPED partition record, and
        # manifest-list rows summarize partition bounds per manifest.
        # Entries are either a column name (identity transform) or a
        # tuple — ("bucket", 4, "col"), ("truncate", 3, "col"),
        # ("year"|"month"|"day", "col") — producing the spec's
        # transform strings and DERIVED partition values (bucket =
        # spec-fixed murmur3). omit_partition_cols drops the source
        # columns from the parquet (metadata-only identity
        # partitioning — the Flink-writer shape; readers must
        # reconstitute the column from partition metadata) and is only
        # meaningful for all-identity specs (a transformed value
        # cannot reconstitute its source).
        self._spec_fields = self._parse_partition_by(partition_by)
        self.partition_by = [c for c, _t, _a, _sn in self._spec_fields]
        # PARTITION SPEC EVOLUTION state: specs already frozen into
        # metadata (update_spec appends; spec-0 freezes on first
        # commit) and the id new manifests are stamped with
        self._specs_json: list[dict] = []
        self._default_spec_id = 0
        if omit_partition_cols and any(t != "identity" for _c, t, _a, _sn in self._spec_fields):
            raise IcebergError("omit_partition_cols requires an all-identity spec")
        self.omit_partition_cols = omit_partition_cols
        self.max_partitions_per_commit = max_partitions_per_commit
        self._snapshots: list[dict] = []
        self._version = 0
        self._seq = 0  # Iceberg v2 sequence number — the real commit order
        # snapshot ids are random 64-bit per the spec (NOT sequential —
        # sequential fixture ids would mask any reader that wrongly
        # orders by id); seeded for reproducible tests
        self._rng = random.Random(seed)
        # evolving schema state: field ids are assigned once and are
        # stable across renames (the spec's core evolution rule);
        # every schema version is retained so readers can resolve any
        # file's columns through the schema it was written with
        self._field_order: list[str] = []  # current names, field order
        self._field_ids: dict[str, int] = {}  # current name -> field id
        self._field_types: dict[str, str] = {}  # current name -> iceberg type
        self._next_fid = 1
        self._schemas: list[dict] = []
        self._current_schema_id = 0
        # refs (tags/branches) ride through every metadata rewrite: a
        # tag is the promise that its snapshot stays readable, so a
        # writer that drops the `refs` key on its next commit silently
        # breaks that promise (and expire_snapshots would then reclaim
        # the "pinned" snapshot's files — data loss)
        self._refs: dict[str, dict] = {}
        if any(self.meta_glob()):
            self._rehydrate()

    @staticmethod
    def _parse_partition_by(
        partition_by,
    ) -> list[tuple[str, str, int | None, str]]:
        """Parse spec entries — a column name (identity) or a tuple
        ("bucket", 4, "col") / ("truncate", 3, "col") /
        ("year"|"month"|"day", "col") — into
        (source_col, transform, arg, spec_field_name)."""
        _SUFFIX = {"bucket": "_bucket", "truncate": "_trunc",
                   "year": "_year", "month": "_month", "day": "_day"}
        fields: list[tuple[str, str, int | None, str]] = []
        for ent in partition_by or []:
            if isinstance(ent, str):
                fields.append((ent, "identity", None, ent))
                continue
            tname, *rest = ent
            if tname not in _SUFFIX:
                raise IcebergError(f"unsupported partition transform {tname!r}")
            if tname in ("bucket", "truncate"):
                arg, col = int(rest[0]), str(rest[1])
            else:
                arg, col = None, str(rest[0])
            fields.append((col, tname, arg, f"{col}{_SUFFIX[tname]}"))
        return fields

    def meta_glob(self):
        return (self.root / "metadata").glob("*.metadata.json")

    def _rehydrate(self) -> None:
        """Resume writing an EXISTING table: destinations are
        constructed per run, so the writer must pick up snapshots,
        sequence numbers, schema state, and the partition spec from the
        table's own metadata rather than starting a parallel history."""
        t = IcebergTable(self.root)
        meta = t.metadata
        self.table_uuid = meta.get("table-uuid", self.table_uuid)
        self._snapshots = list(meta.get("snapshots", []))
        # current != last after a rollback_to: new commits must parent
        # on the CURRENT snapshot, not the abandoned tip
        cur = meta.get("current-snapshot-id")
        self._cur_sid = None if cur in (None, -1) else int(cur)
        self._seq = int(meta.get("last-sequence-number", 0))
        hint = self.root / "metadata" / "version-hint.text"
        if hint.exists():
            self._version = int(hint.read_text().strip())
        self._schemas = list(meta.get("schemas", []))
        self._current_schema_id = int(meta.get("current-schema-id", 0))
        # carry tags/branches forward — a resumed writer that forgets
        # them would erase every tag on its first commit
        self._refs = dict(meta.get("refs") or {})
        cur = next(
            (s for s in self._schemas if s.get("schema-id", 0) == self._current_schema_id),
            {"fields": []},
        )
        for f in cur.get("fields", []):
            self._field_order.append(f["name"])
            self._field_ids[f["name"]] = int(f["id"])
            self._field_types[f["name"]] = str(f.get("type") or "")
        self._next_fid = max(self._field_ids.values(), default=0) + 1
        specs = {s.get("spec-id", 0): s for s in meta.get("partition-specs", [])}
        self._specs_json = list(meta.get("partition-specs", []))
        self._default_spec_id = int(meta.get("default-spec-id", 0))
        spec = specs.get(self._default_spec_id) or {}
        by_id = {v: k for k, v in self._field_ids.items()}
        self._spec_fields = []
        for f in spec.get("fields", []):
            tname, arg = _parse_transform(str(f.get("transform", "identity")))
            sid = int(f["source-id"])
            if sid in by_id:
                self._spec_fields.append((by_id[sid], tname, arg, str(f["name"])))
        self.partition_by = [c for c, _t, _a, _sn in self._spec_fields]

    # -- schema evolution --------------------------------------------------
    def _current_schema(self) -> dict:
        return {
            "schema-id": self._current_schema_id,
            "type": "struct",
            "fields": [
                {
                    "id": self._field_ids[c],
                    "name": c,
                    "required": False,
                    "type": self._field_types[c],
                }
                for c in self._field_order
            ],
        }

    def _push_schema(self) -> None:
        self._current_schema_id = len(self._schemas)
        self._schemas.append(self._current_schema())

    def rename_column(self, old: str, new: str) -> int:
        """Schema evolution: rename keeps the FIELD ID, so files written
        before the rename still resolve (the spec's rename-proof
        indirection). Metadata-only update — a new metadata.json version
        with a new current schema, no snapshot."""
        if old not in self._field_ids:
            raise IcebergError(f"cannot rename unknown column {old!r}")
        self._field_order = [new if c == old else c for c in self._field_order]
        self._field_ids[new] = self._field_ids.pop(old)
        self._field_types[new] = self._field_types.pop(old)
        self._push_schema()
        self._write_metadata()
        return self._current_schema_id

    def add_column(self, name: str, iceberg_type: str) -> int:
        """Schema evolution: add assigns a FRESH field id (never reuses
        a dropped one); files written before the add read the column as
        null."""
        if name in self._field_ids:
            raise IcebergError(f"column {name!r} already exists")
        self._field_order.append(name)
        self._field_ids[name] = self._next_fid
        self._next_fid += 1
        self._field_types[name] = iceberg_type
        self._push_schema()
        self._write_metadata()
        return self._current_schema_id

    def append(
        self,
        df: DataFrame,
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
        branch: str | None = None,
    ) -> int:
        """`branch=` stages the append on a BRANCH ref (forked from the
        branch head, or from the current snapshot when the branch is
        new) without moving the table's current snapshot — the
        Write-Audit-Publish write side; `IcebergTable.fast_forward`
        publishes."""
        return self._commit(df, "append", timestamp_ms, snapshot_id, branch=branch)

    def overwrite(
        self, df: DataFrame, timestamp_ms: int | None = None, snapshot_id: int | None = None
    ) -> int:
        """Overwrite commit: the new manifest list references ONLY this
        commit's manifest, so the snapshot's live set is exactly the new
        files (prior files stay on disk for time travel — Iceberg's
        copy-on-write overwrite shape)."""
        return self._commit(df, "overwrite", timestamp_ms, snapshot_id)

    def _commit(
        self,
        df: DataFrame,
        operation: str,
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
        branch: str | None = None,
    ) -> int:
        self._ensure_schema_from_df(df)
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        if branch is not None:
            if not self._snapshots:
                raise IcebergError(
                    "cannot stage a branch commit on an empty table — "
                    "there is no snapshot to fork from"
                )
            ref = self._refs.get(branch)
            if ref is not None and ref.get("type") != "branch":
                raise IcebergError(f"ref {branch!r} exists and is not a branch")
            # parent on the branch head; a new branch forks from current
            parent = (
                int(ref["snapshot-id"]) if ref is not None else self._parent_snapshot_id()
            )
        else:
            parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        data_files = self._write_df_entries(df, sid)
        return self._finish_commit(sid, parent, ts, data_files, operation, branch=branch)

    def _ensure_schema_from_df(self, df: DataFrame) -> None:
        """First data commit defines the field-id schema (ids 1..n)
        that equality-delete entries reference; iceberg types ride
        along so bound values round-trip through the spec's
        single-value serialization.

        Later commits WIDEN: unseen columns become new schema fields
        with fresh ids (the spec's safe evolution — older files read
        them as null), so a CDC source that grows a column lands it
        instead of silently dropping it. Missing columns stay legal
        (the file simply lacks the field; readers null-fill by id)."""
        if self._schemas:
            _SPARK_TO_ICE = {
                "integer": "int",
                "long": "long",
                "float": "float",
                "double": "double",
                "string": "string",
                "date": "date",
                "timestamp": "timestamp",
            }
            for f in df.schema.fields:
                if f.name not in self._field_ids:
                    self.add_column(f.name, _SPARK_TO_ICE.get(f.dataType.typeName(), ""))
            return
        _SPARK_TO_ICE = {
            "integer": "int",
            "long": "long",
            "float": "float",
            "double": "double",
            "string": "string",
            "date": "date",
            "timestamp": "timestamp",
        }
        for f in df.schema.fields:
            self._field_order.append(f.name)
            self._field_ids[f.name] = self._next_fid
            self._next_fid += 1
            self._field_types[f.name] = _SPARK_TO_ICE.get(f.dataType.typeName(), "")
        self._schemas.append(self._current_schema())
        for c in self.partition_by:
            if c not in self._field_ids:
                raise IcebergError(f"partition column {c!r} not in first commit's schema")

    def _write_df_entries(self, df: DataFrame, sid: int) -> list[dict]:
        """Write df's rows as immutable data files and return their
        ADDED manifest entries at the current sequence number.

        Files are written through Spark then moved into data/ (files
        are immutable once committed — Iceberg's core invariant).
        Partitioned tables are written in ONE distributed
        hive-partitioned job (executors split rows; the driver walks
        only directory NAMES — O(partitions), never O(rows), and the
        partition count is guarded). Each file's manifest entry
        carries a typed partition record; record values are spec
        single-values (date -> days int, timestamp -> micros long)."""
        import shutil
        import tempfile

        slices: list[tuple[dict | None, list[str]]] = []
        tmps: list[str] = []
        if self.partition_by:
            from .partitioned_write import hive_partitioned_write

            # split by DERIVED partition-value columns (identity passes
            # the source through; bucket/truncate/temporal compute the
            # transform executor-side), then drop the derived columns —
            # source columns stay in the data files unless
            # omit_partition_cols (all-identity only)
            staged = df
            pcols = []
            for c, tname, arg, sn in self._spec_fields:
                pc = f"__pt_{sn}"
                staged = staged.withColumn(pc, self._derived_partition_col(c, tname, arg))
                pcols.append(pc)
            if self.omit_partition_cols:
                staged = staged.drop(*self.partition_by)
            tmp_root, parts = hive_partitioned_write(
                staged,
                pcols,
                drop_partition_cols=True,
                max_partitions=self.max_partitions_per_commit,
            )
            tmps.append(tmp_root)
            for raw, files in parts:
                rec = {}
                for c, tname, arg, sn in self._spec_fields:
                    vt = _transform_value_type(tname, self._field_types.get(c, ""))
                    rec[sn] = self._ice_single_value(
                        self._typed_raw(raw[f"__pt_{sn}"], vt), vt
                    )
                slices.append((rec, files))
        else:
            tmp = tempfile.mkdtemp(prefix="iceberg_commit_")
            df.write.mode("overwrite").parquet(tmp)
            files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
            slices.append((None, files))
            tmps.append(tmp)

        data_files = []
        for partition, files in slices:
            for p in files:
                dest = self.root / "data" / f"{uuid.uuid4().hex}.parquet"
                shutil.move(str(p), str(dest))
                import pyarrow.parquet as pq

                md = pq.read_metadata(dest)
                lower, upper = self._footer_bounds(md)
                data_files.append(
                    {
                        "status": 1,  # ADDED
                        "snapshot_id": sid,
                        "sequence_number": self._seq,
                        "data_file": {
                            "file_path": str(dest),
                            "file_format": "PARQUET",
                            "partition": partition,
                            "record_count": md.num_rows,
                            "content": 0,
                            "equality_ids": None,
                            "lower_bounds": lower,
                            "upper_bounds": upper,
                            "file_size_in_bytes": dest.stat().st_size,
                        },
                    }
                )
        for t in tmps:
            shutil.rmtree(t, ignore_errors=True)
        return data_files

    def _derived_partition_col(self, c: str, tname: str, arg: int | None):
        """Spark column computing a spec field's partition value.

        Temporal transforms over TIMESTAMP columns derive from UTC
        epoch micros (`unix_micros`), never from session-timezone
        calendar casts (`F.year`/`cast("date")`) — the spec's transform
        is defined on the UTC instant, and reader-side literal
        projection uses the same epoch arithmetic, so written partition
        value and projected predicate agree in every session timezone."""
        from pyspark.sql import functions as F

        typ = self._field_types.get(c, "")
        is_ts = typ in ("timestamp", "timestamptz")
        if tname == "identity":
            return F.col(c)
        if tname == "truncate":
            if typ == "string":
                return F.substring(F.col(c), 1, int(arg))
            return F.col(c) - F.pmod(F.col(c), F.lit(int(arg)))
        if is_ts and tname in ("year", "month", "day", "hour"):
            micros = F.unix_micros(F.col(c))
            epoch_days = F.floor(micros / F.lit(86_400_000_000)).cast("int")
            if tname == "hour":
                return F.floor(micros / F.lit(3_600_000_000)).cast("int")
            if tname == "day":
                return epoch_days
            utc_date = F.date_add(F.to_date(F.lit("1970-01-01")), epoch_days)
            if tname == "year":
                return F.year(utc_date) - F.lit(1970)
            return (F.year(utc_date) - F.lit(1970)) * F.lit(12) + F.month(utc_date) - F.lit(1)
        if tname == "year":
            return F.year(F.col(c)) - F.lit(1970)
        if tname == "month":
            return (F.year(F.col(c)) - F.lit(1970)) * F.lit(12) + F.month(F.col(c)) - F.lit(1)
        if tname == "day":
            return F.datediff(F.col(c).cast("date"), F.to_date(F.lit("1970-01-01")))
        if tname == "bucket":
            if is_ts:
                # spec hashes a timestamp as its UTC-micros long; going
                # through unix_micros sidesteps Arrow's session-local
                # naive-timestamp conversion inside the pandas UDF
                return _bucket_pandas_udf(int(arg), "long")(F.unix_micros(F.col(c)))
            return _bucket_pandas_udf(int(arg), typ)(F.col(c))
        raise IcebergError(f"unsupported partition transform {tname!r}")

    @staticmethod
    def _typed_raw(raw: str | None, typ: str):
        """Hive directory-name string -> typed python value (the
        inverse of Spark's partition-path encoding), by the column's
        iceberg type."""
        import datetime as _dt

        if raw is None:
            return None
        if typ in ("int", "long"):
            return int(raw)
        if typ in ("float", "double"):
            return float(raw)
        if typ == "date":
            return _dt.date.fromisoformat(raw)
        if typ in ("timestamp", "timestamptz"):
            return _dt.datetime.fromisoformat(raw)
        return raw

    def _footer_bounds(self, md) -> tuple[list | None, list | None]:
        """Per-column min/max aggregated across row groups from the
        parquet footer, encoded as the spec's single-value binary form
        keyed by field id. Columns whose type the serde doesn't cover
        (or with absent footer stats) are skipped — readers treat a
        missing bound as 'keep the file'."""
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                lo, hi = st.min, st.max
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi
        lower, upper = [], []
        for name in mins:
            typ = self._field_types.get(name, "")
            if not typ or name not in self._field_ids:
                continue
            lo, hi = mins[name], maxs[name]
            if typ in ("timestamp", "timestamptz"):
                # footer stats come back as datetime; spec stores micros
                if hasattr(lo, "timestamp"):
                    lo, hi = int(lo.timestamp() * 1_000_000), int(hi.timestamp() * 1_000_000)
            if typ == "date" and hasattr(lo, "toordinal"):
                epoch = 719_163  # date(1970,1,1).toordinal()
                lo, hi = lo.toordinal() - epoch, hi.toordinal() - epoch
            if typ == "string" and (len(str(lo)) > 64 or len(str(hi)) > 64):
                continue  # parquet may truncate long string stats
            lo_b, hi_b = _encode_bound(lo, typ), _encode_bound(hi, typ)
            if lo_b is None or hi_b is None:
                continue
            fid = self._field_ids[name]
            lower.append({"key": fid, "value": lo_b})
            upper.append({"key": fid, "value": hi_b})
        return (lower or None), (upper or None)

    def delete_positions(
        self,
        deletes: list[tuple[str, int]],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        """Iceberg v2 positional-delete commit: (data_file_path,
        row_position) pairs written as a content=1 delete parquet.
        Prior data manifests stay referenced — readers resolve the
        snapshot merge-on-read (anti-join on file+pos)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        dest = self.root / "data" / f"delete-{uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([p for p, _ in deletes], pa.string()),
                    "pos": pa.array([int(i) for _, i in deletes], pa.int64()),
                }
            ),
            dest,
        )
        entries = [
            {
                "status": 1,
                "snapshot_id": sid,
                "sequence_number": self._seq,
                "data_file": {
                    "file_path": str(dest),
                    "file_format": "PARQUET",
                    "record_count": len(deletes),
                    "content": 1,
                    "partition": None,
                    "equality_ids": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "file_size_in_bytes": dest.stat().st_size,
                },
            }
        ]
        return self._finish_commit(sid, parent, ts, entries, "delete")

    def merge_files_pos(
        self,
        paths: list[str],
        pos_deletes: list[tuple[str, int]],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        """ONE snapshot with operation 'overwrite' carrying a
        positional-delete file AND the batch's data files — the commit
        shape Spark's and Trino's MERGE INTO write (merge-on-read with
        position deletes). Prior data manifests stay referenced;
        readers resolve the deletes by (file, pos) and changelog
        consumers reconstruct exact preimages from them."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not pos_deletes and not paths:
            raise IcebergError("merge_files_pos requires deletes or data files")
        if paths:
            self._ensure_schema_from_parquet(paths[0])
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        entries = list(self._copied_file_entries(paths, sid)) if paths else []
        if pos_deletes:
            dest = self.root / "data" / f"delete-{uuid.uuid4().hex}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "file_path": pa.array([p for p, _ in pos_deletes], pa.string()),
                        "pos": pa.array([int(i) for _, i in pos_deletes], pa.int64()),
                    }
                ),
                dest,
            )
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": self._seq,
                    "data_file": {
                        "file_path": str(dest),
                        "file_format": "PARQUET",
                        "record_count": len(pos_deletes),
                        "content": 1,
                        "partition": None,
                        "equality_ids": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "file_size_in_bytes": dest.stat().st_size,
                    },
                }
            )
        return self._finish_commit(sid, parent, ts, entries, "overwrite", retain_prior=True)

    def merge_pos_delete_files(
        self,
        paths: list[str],
        delete_paths: list[str],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        """Distributed twin of :meth:`merge_files_pos`: ONE 'overwrite'
        snapshot carrying the batch's data files plus PRE-WRITTEN
        positional-delete parquet files (schema ``file_path: string,
        pos: long`` with reader-normalized paths). The delete rows were
        produced and written by EXECUTORS (the destination's
        victim-location join) — control only copies the files into the
        table directory and registers their footer counts, so victim
        rows never pass through the driver. Zero-row part files (an
        empty write partition) are dropped; a merge whose victim set is
        entirely empty IS an append and commits as one, keeping the
        changelog's CoW-overwrite guard meaningful."""
        import shutil as _sh

        import pyarrow.parquet as _pq

        if not paths:
            raise IcebergError("merge_pos_delete_files requires data files")
        live: list[tuple[str, int]] = []
        for p in delete_paths:
            n = int(_pq.ParquetFile(p).metadata.num_rows)
            if n > 0:
                live.append((p, n))
        if not live:
            return self.append_files(
                paths, timestamp_ms=timestamp_ms, snapshot_id=snapshot_id
            )
        self._ensure_schema_from_parquet(paths[0])
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        entries = list(self._copied_file_entries(paths, sid))
        for src, n in live:
            dest = self.root / "data" / f"delete-{uuid.uuid4().hex}.parquet"
            _sh.copyfile(src, dest)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": self._seq,
                    "data_file": {
                        "file_path": str(dest),
                        "file_format": "PARQUET",
                        "record_count": n,
                        "content": 1,
                        "partition": None,
                        "equality_ids": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "file_size_in_bytes": dest.stat().st_size,
                    },
                }
            )
        return self._finish_commit(sid, parent, ts, entries, "overwrite", retain_prior=True)

    def delete_equality(
        self,
        values: list[dict],
        equality_cols: list[str],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        """Iceberg v2 equality-delete commit: rows whose values on
        `equality_cols` match any delete row are removed. The manifest
        entry carries content=2 and the match columns as FIELD IDS into
        the metadata schema (the spec's rename-proof indirection)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        dest = self.root / "data" / f"eqdelete-{uuid.uuid4().hex}.parquet"
        pq.write_table(pa.table({c: [v[c] for v in values] for c in equality_cols}), dest)
        ids = [self._field_ids[c] for c in equality_cols]
        entries = [
            {
                "status": 1,
                "snapshot_id": sid,
                "sequence_number": self._seq,
                "data_file": {
                    "file_path": str(dest),
                    "file_format": "PARQUET",
                    "record_count": len(values),
                    "content": 2,
                    "partition": None,
                    "equality_ids": ids,
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "file_size_in_bytes": dest.stat().st_size,
                },
            }
        ]
        return self._finish_commit(sid, parent, ts, entries, "delete")

    _ICE_TO_AVRO = {
        "int": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "date": "int",
        "timestamp": "long",
    }

    @staticmethod
    def _ice_single_value(v, typ: str):
        """Python value -> Iceberg single-value representation (spec
        'partition values'): date -> days-since-epoch, timestamp ->
        micros-since-epoch; everything else passes through."""
        import datetime as _dt

        if v is None:
            return None
        if typ == "date" and isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return (v - _dt.date(1970, 1, 1)).days
        if typ in ("timestamp", "timestamptz") and isinstance(v, _dt.datetime):
            base = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            td = v - base
            return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds
        return v

    def _entry_schema(self) -> dict:
        """Manifest-entry Avro schema; partitioned tables extend
        data_file with a TYPED partition record (spec r102) built from
        the identity spec's source-column types."""
        import copy

        schema = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
        if self.partition_by:
            part_fields = [
                {
                    "name": sn,
                    "type": [
                        "null",
                        self._ICE_TO_AVRO.get(
                            _transform_value_type(tname, self._field_types.get(c, "")),
                            "string",
                        ),
                    ],
                    "default": None,
                }
                for c, tname, _arg, sn in self._spec_fields
            ]
            data_file = schema["fields"][-1]["type"]
            data_file["fields"].insert(
                4,
                {
                    "name": "partition",
                    "type": ["null", {"type": "record", "name": "r102", "fields": part_fields}],
                    "default": None,
                },
            )
        return schema

    def _partition_summaries(self, entries: list[dict]) -> list[dict] | None:
        """Spec field_summary rows (contains_null + encoded bounds) per
        partition field, aggregated over one manifest's entries — what
        lets a planner skip the whole manifest."""
        if not self.partition_by:
            return None
        out = []
        for c, tname, _arg, sn in self._spec_fields:
            typ = _transform_value_type(tname, self._field_types.get(c, ""))
            values = []
            contains_null = False
            for e in entries:
                part = e["data_file"].get("partition")
                if part is None:
                    contains_null = True  # delete entries carry no tuple
                    continue
                v = part.get(sn)
                if v is None:
                    contains_null = True
                else:
                    values.append(v)
            lo = _encode_bound(min(values), typ) if values else None
            hi = _encode_bound(max(values), typ) if values else None
            out.append({"contains_null": contains_null, "lower_bound": lo, "upper_bound": hi})
        return out

    def _eq_delete_entry(self, values: list[dict], equality_cols: list[str], sid: int) -> dict:
        """Build one content=2 equality-delete entry (file + manifest
        row) at the CURRENT sequence number."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        dest = self.root / "data" / f"eqdelete-{uuid.uuid4().hex}.parquet"
        pq.write_table(pa.table({c: [v[c] for v in values] for c in equality_cols}), dest)
        return {
            "status": 1,
            "snapshot_id": sid,
            "sequence_number": self._seq,
            "data_file": {
                "file_path": str(dest),
                "file_format": "PARQUET",
                "record_count": len(values),
                "content": 2,
                "partition": None,
                "equality_ids": [self._field_ids[c] for c in equality_cols],
                "lower_bounds": None,
                "upper_bounds": None,
                "file_size_in_bytes": dest.stat().st_size,
            },
        }

    def declare_schema(self, fields: list[tuple[str, str]]) -> int:
        """Declare the FULL field-id schema up-front, in order —
        the translation path's entry point: a partitioned source
        format's declared column order includes partition columns its
        data files omit, so the schema cannot be inferred from any
        parquet footer. Must run before the first commit (spec-0
        freezes against these field ids); later commits widen as
        usual."""
        if self._schemas:
            raise IcebergError("declare_schema requires a table with no schema yet")
        for name, ice_t in fields:
            if name in self._field_ids:
                raise IcebergError(f"duplicate column {name!r} in declared schema")
            self._field_order.append(name)
            self._field_ids[name] = self._next_fid
            self._next_fid += 1
            self._field_types[name] = ice_t
        self._schemas.append(self._current_schema())
        self._write_metadata()
        return self._current_schema_id

    def link_files(
        self,
        paths: list[str],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
        partition_values: list[dict] | None = None,
    ) -> int:
        """Append commit that LINKS existing parquet files IN PLACE —
        manifests reference the source files' absolute paths, nothing
        is copied. This is the XTable / Delta-UniForm translation
        primitive: exposing another format's data files through
        Iceberg metadata is a metadata-only operation (Apache XTable's
        whole premise); the linked files' lifecycle stays owned by the
        source table (expire/vacuum there, not here).

        Partitioned linking (identity specs only): `partition_values`
        carries one dict per path mapping partition COLUMN -> value
        (raw hive/Delta strings or typed values). The entries' typed
        partition records are the only place the partition columns
        exist — the linked files omit them — which is exactly the
        metadata-only identity shape the reader already reconstitutes
        (the Flink-writer layout)."""
        if not paths:
            raise IcebergError("link_files requires at least one parquet file")
        self._check_link_partitioning(paths, partition_values)
        self._ensure_schema_from_parquet(paths[0])
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        return self._finish_commit(
            sid,
            parent,
            ts,
            self._file_entries(paths, sid, copy=False, partitions=partition_values),
            "append",
        )

    def _check_link_partitioning(
        self, paths: list[str], partition_values: list[dict] | None
    ) -> None:
        if self.partition_by:
            if any(t != "identity" for _c, t, _a, _sn in self._spec_fields):
                raise IcebergError(
                    "partitioned link/replace supports identity transforms only "
                    "(derived values cannot reconstitute their source column)"
                )
            if partition_values is None or len(partition_values) != len(paths):
                raise IcebergError(
                    "partitioned link/replace requires one partition_values "
                    "dict per path"
                )
        elif partition_values:
            raise IcebergError(
                "partition_values given but the table has no partition spec"
            )

    def _copied_file_entries(self, paths: list[str], sid: int) -> list[dict]:
        return self._file_entries(paths, sid, copy=True)

    def _file_entries(
        self,
        paths: list[str],
        sid: int,
        copy: bool = True,
        partitions: list[dict] | None = None,
    ) -> list[dict]:
        """Data-file entries from EXISTING canonical parquet files,
        committed by COPY (no decode/re-encode — the segment-copy
        posture) or LINKED in place (copy=False, the XTable path);
        bounds come from each file's own footer. `partitions` (aligned
        with paths) carries per-file partition values keyed by source
        column — raw strings (hive/Delta partitionValues) or typed —
        encoded into the entry's typed partition record."""
        import shutil

        import pyarrow.parquet as pq

        entries = []
        for i, src in enumerate(paths):
            if copy:
                dest = self.root / "data" / f"{uuid.uuid4().hex}.parquet"
                shutil.copy(str(src), str(dest))
            else:
                dest = Path(src).resolve()
            md = pq.read_metadata(dest)
            lower, upper = self._footer_bounds(md)
            rec = None
            if partitions is not None:
                raw = partitions[i] or {}
                rec = {}
                for c, _tname, _arg, sn in self._spec_fields:
                    typ = self._field_types.get(c, "")
                    v = raw.get(c, raw.get(sn))
                    if v is None or isinstance(v, str):
                        v = self._typed_raw(v, typ)
                    rec[sn] = self._ice_single_value(v, typ)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": self._seq,
                    "data_file": {
                        "file_path": str(dest),
                        "file_format": "PARQUET",
                        "partition": rec,
                        "record_count": md.num_rows,
                        "content": 0,
                        "equality_ids": None,
                        "lower_bounds": lower,
                        "upper_bounds": upper,
                        "file_size_in_bytes": dest.stat().st_size,
                    },
                }
            )
        return entries

    def _ensure_schema_from_parquet(self, path: str) -> None:
        """First commit via the file path defines the field-id schema
        from the parquet's own Arrow schema; later commits widen with
        unseen columns (fresh ids — same evolution rule as the
        DataFrame path)."""
        import pyarrow.parquet as pq

        _ARROW_TO_ICE = {
            "int32": "int",
            "int64": "long",
            "float": "float",
            "double": "double",
            "string": "string",
            "large_string": "string",
            "date32[day]": "date",
        }
        if self._schemas:
            # the spec's only sanctioned in-place type evolutions: a
            # wider incoming file PROMOTES the declared type; anything
            # else is a mismatch the reader cannot cast losslessly —
            # refuse rather than let the file land and silently
            # truncate at read time
            _PROMOTIONS = {("int", "long"), ("float", "double")}
            promoted = False
            for f in pq.read_schema(path):
                if f.name not in self._field_ids:
                    t = str(f.type)
                    ice = _ARROW_TO_ICE.get(t, "timestamp" if t.startswith("timestamp") else "")
                    self.add_column(f.name, ice)
                    continue
                t = str(f.type)
                ice = _ARROW_TO_ICE.get(t, "timestamp" if t.startswith("timestamp") else "")
                declared = self._field_types.get(f.name, "")
                if ice and declared and ice != declared:
                    if (declared, ice) in _PROMOTIONS:
                        self._field_types[f.name] = ice  # int->long / float->double
                        promoted = True
                    else:
                        raise IcebergError(
                            f"type change on column {f.name!r} "
                            f"({declared} -> {ice}) is not a sanctioned "
                            "promotion (int->long, float->double) — cast "
                            "the batch before committing"
                        )
            if promoted:
                self._push_schema()
                self._write_metadata()
            return
        for f in pq.read_schema(path):
            t = str(f.type)
            ice = _ARROW_TO_ICE.get(t, "timestamp" if t.startswith("timestamp") else "")
            self._field_order.append(f.name)
            self._field_ids[f.name] = self._next_fid
            self._next_fid += 1
            self._field_types[f.name] = ice
        self._schemas.append(self._current_schema())

    def append_files(
        self,
        paths: list[str],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
        branch: str | None = None,
    ) -> int:
        """Append commit by segment COPY (destination bulk path);
        `branch=` stages it on a branch ref (WAP) like `append`."""
        if not paths:
            raise IcebergError("append_files requires at least one parquet file")
        self._ensure_schema_from_parquet(paths[0])
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        if branch is not None:
            if not self._snapshots:
                raise IcebergError(
                    "cannot stage a branch commit on an empty table — "
                    "there is no snapshot to fork from"
                )
            ref = self._refs.get(branch)
            if ref is not None and ref.get("type") != "branch":
                raise IcebergError(f"ref {branch!r} exists and is not a branch")
            parent = (
                int(ref["snapshot-id"]) if ref is not None else self._parent_snapshot_id()
            )
        else:
            parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        return self._finish_commit(
            sid, parent, ts, self._copied_file_entries(paths, sid), "append", branch=branch
        )

    def replace_files(
        self,
        paths: list[str],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
        operation: str = "overwrite",
        copy: bool = True,
        partition_values: list[dict] | None = None,
    ) -> int:
        """Overwrite commit by segment COPY: the new snapshot's live
        set is exactly these files (prior files stay for time travel).
        Maintenance rewrites pass operation='replace' (same live-set
        semantics, but declares "no logical change" so changelog
        consumers skip it instead of raising). copy=False LINKS the
        files in place (the XTable sync path for a source overwrite
        commit — metadata-only, lifecycle stays with the source);
        `partition_values` carries per-path identity partition values
        for partitioned linking, same contract as `link_files`."""
        if not paths:
            raise IcebergError("replace_files requires at least one parquet file")
        if operation not in ("overwrite", "replace"):
            raise IcebergError(f"unsupported replace operation {operation!r}")
        if partition_values is not None:
            self._check_link_partitioning(paths, partition_values)
        self._ensure_schema_from_parquet(paths[0])
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        return self._finish_commit(
            sid,
            parent,
            ts,
            self._file_entries(paths, sid, copy=copy, partitions=partition_values),
            operation,
        )

    def rewrite_small_files(
        self,
        spark: SparkSession,
        small_bytes: int = 32 << 20,
        target_bytes: int = 128 << 20,
        timestamp_ms: int | None = None,
    ) -> dict:
        """Bin-pack compaction (Iceberg's RewriteDataFiles binpack
        strategy): rewrite ONLY undersized live data files, leaving
        full-size files untouched — O(small files), not the O(table)
        full rewrite of `IcebergDestination.compact`. This is the
        maintenance op per-epoch streaming commits need at 100 TB: each
        micro-batch lands a small file forever unless something merges
        them, and rewriting the whole table per maintenance run would
        dwarf the ingest itself.

        Correctness with row-level deletes, by sequence-number
        arithmetic rather than special cases:
        - Small files are read WITH their applicable deletes resolved
          (the subset read applies positional deletes by path and
          equality deletes by seq scoping), so merged files carry the
          post-delete rows.
        - Merged files take the NEW commit's sequence number, which is
          strictly greater than every live delete's — no existing
          delete re-applies to them.
        - Untouched files are re-listed as status=EXISTING with their
          ORIGINAL data sequence numbers written explicitly, so live
          equality deletes keep applying to exactly the rows they did
          before.
        - Delete entries themselves are re-listed verbatim (explicit
          seq). Positional deletes naming rewritten paths dangle
          harmlessly (their target paths are no longer live) until
          expire_snapshots reclaims them.

        Merging happens within a partition (grouped by the entry's
        partition record) — a merged file must describe one partition
        tuple. Groups with fewer than two small files are left alone.

        Ref parity: the reference's destination maintenance contract is
        commit-atomic (crates/cdf-kernel/src/destination.rs) — this is
        one snapshot, never an in-place edit."""
        t = IcebergTable(self.root)
        cur = t.current_snapshot_id()
        if cur is None:
            raise IcebergError("table has no snapshots to compact")
        snap = t.snapshot(cur)
        data_entries: list[tuple[dict, str, int, int]] = []  # (entry, path, size, seq)
        delete_entries: list[dict] = []
        for mp in t._manifest_paths(snap):
            for e in t._manifest_entries(mp):
                if int(e.get("status", 1)) == 2:
                    continue
                dfile = e["data_file"]
                seq = t._entry_sequence(e)
                if int(dfile.get("content") or 0) == 0:
                    data_entries.append(
                        (
                            e,
                            str(t._resolve(dfile["file_path"])),
                            int(dfile.get("file_size_in_bytes") or 0),
                            seq,
                        )
                    )
                else:
                    e = dict(e)
                    e["status"] = 0
                    e["sequence_number"] = seq
                    delete_entries.append(e)

        import json as _json
        from collections import defaultdict

        groups: dict[str, list[tuple[dict, str, int, int]]] = defaultdict(list)
        survivors: list[tuple[dict, int]] = []
        for item in data_entries:
            entry, path, size, seq = item
            if size < small_bytes:
                key = _json.dumps(entry["data_file"].get("partition"), sort_keys=True, default=str)
                groups[key].append(item)
            else:
                survivors.append((entry, seq))
        rewrite_groups = {k: v for k, v in groups.items() if len(v) >= 2}
        for k, v in groups.items():
            if k not in rewrite_groups:
                survivors.extend((entry, seq) for entry, _p, _s, seq in v)
        result = {
            "files_before": len(data_entries),
            "rewritten": sum(len(v) for v in rewrite_groups.values()),
            "groups": len(rewrite_groups),
            "files_after": len(data_entries),
        }
        if not rewrite_groups:
            return result

        import math
        import shutil
        import tempfile

        sid = self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)

        new_entries: list[dict] = []
        for _key, items in sorted(rewrite_groups.items()):
            paths = [p for _e, p, _s, _q in items]
            total = sum(s for _e, _p, s, _q in items)
            k = max(1, math.ceil(total / max(1, target_bytes)))
            part_record = items[0][0]["data_file"].get("partition")
            merged = t.read(spark, _files=paths).repartition(k)
            tmp = tempfile.mkdtemp(prefix="iceberg_binpack_")
            try:
                merged.write.mode("overwrite").parquet(tmp)
                files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
                copied = self._copied_file_entries(files, sid)
                for ce in copied:
                    ce["data_file"]["partition"] = part_record
                new_entries.extend(copied)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        for entry, seq in survivors:
            e = dict(entry)
            e["status"] = 0  # EXISTING at this snapshot
            e["sequence_number"] = seq  # pin: do NOT inherit the new commit's seq
            new_entries.append(e)
        # Positional-delete hygiene: rows referencing REWRITTEN paths
        # were resolved into the merged files — re-listing them would
        # leave dangling rows that reads ignore but metadata_count
        # still subtracts (double-counting the same deletes). Drop
        # delete entries whose rows all reference rewritten files;
        # TRIM mixed files to their surviving rows (tiny driver-side
        # parquet rewrite, same boundary as delete_positions itself).
        # Equality deletes (content=2) apply by value+sequence, not
        # path — they pass through untouched.
        rewritten_paths = {
            file_key(p) for v in rewrite_groups.values() for _e, p, _s, _q in v
        }
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        for e in delete_entries:
            dfile = e["data_file"]
            if int(dfile.get("content") or 0) != 1:
                new_entries.append(e)
                continue
            dpath = t._resolve(dfile["file_path"])
            dtab = _pq.read_table(dpath)
            paths = [file_key(str(v)) for v in dtab.column("file_path").to_pylist()]
            keep_rows = [i for i, p in enumerate(paths) if p not in rewritten_paths]
            if len(keep_rows) == len(paths):
                new_entries.append(e)
            elif keep_rows:
                trimmed = dtab.take(keep_rows)
                dest = self.root / "data" / f"delete-{uuid.uuid4().hex}.parquet"
                _pq.write_table(trimmed, dest)
                ne = dict(e)
                nd = dict(dfile)
                nd["file_path"] = str(dest)
                nd["record_count"] = len(keep_rows)
                nd["file_size_in_bytes"] = dest.stat().st_size
                ne["data_file"] = nd
                ne["snapshot_id"] = sid
                new_entries.append(ne)
            # else: every row referenced a rewritten file — drop entirely
        self._finish_commit(sid, parent, ts, new_entries, "replace")
        after = IcebergTable(self.root)
        result["files_after"] = len(after.files_for_snapshot(after.current_snapshot_id()))
        return result

    def rewrite_position_deletes(self, timestamp_ms: int | None = None) -> dict:
        """Consolidate accumulated POSITIONAL-DELETE files into one
        (Iceberg's RewritePositionDeleteFiles): every MERGE/DELETE
        commit lands another small content=1 parquet, and each one is
        another file every snapshot read must open and anti-join —
        at streaming-CDC cadence the delete-file count grows without
        bound unless something merges them. One 'replace' snapshot:
        the consolidated file plus every data/equality entry re-listed
        as EXISTING with its ORIGINAL sequence number pinned.

        Hygiene rides along: rows referencing data files that are no
        longer live (their targets were themselves rewritten or
        removed) are dropped, and duplicate (file, pos) rows from
        overlapping delete commits dedupe — both keep
        `metadata_count`'s delete-cardinality arithmetic exact.

        Sequence safety: the consolidated entry takes the MAX of the
        originals' sequence numbers. Positional deletes target
        explicit file paths and this writer's paths are uuid-unique
        (never reused), so widening the sequence window cannot make a
        row apply to a file it didn't before. Driver-side parquet
        consolidation — delete files are metadata-scale by
        construction; at cluster scale this becomes one small
        distributed job, same boundary as delete_positions itself."""
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        t = IcebergTable(self.root)
        cur = t.current_snapshot_id()
        if cur is None:
            raise IcebergError("table has no snapshots")
        snap = t.snapshot(cur)
        pos_deletes: list[tuple[dict, int]] = []
        others: list[tuple[dict, int]] = []
        live_data_paths: set[str] = set()
        for mp in t._manifest_paths(snap):
            for e in t._manifest_entries(mp):
                if int(e.get("status", 1)) == 2:
                    continue
                seq = t._entry_sequence(e)
                content = int(e["data_file"].get("content") or 0)
                if content == 1:
                    pos_deletes.append((e, seq))
                else:
                    others.append((e, seq))
                    if content == 0:
                        live_data_paths.add(
                            file_key(str(t._resolve(e["data_file"]["file_path"])))
                        )
        result = {
            "delete_files_before": len(pos_deletes),
            "delete_files_after": len(pos_deletes),
            "rows_dropped": 0,
        }
        if len(pos_deletes) < 2:
            return result

        sid = self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)

        tables = []
        total_rows = 0
        for e, _seq in pos_deletes:
            dtab = _pq.read_table(t._resolve(e["data_file"]["file_path"]))
            total_rows += dtab.num_rows
            tables.append(dtab.select(["file_path", "pos"]))
        merged = _pa.concat_tables(tables)
        # drop dangling rows + dedupe (file, pos); sort for locality
        norm = [file_key(str(v)) for v in merged.column("file_path").to_pylist()]
        keep_mask = [p in live_data_paths for p in norm]
        merged = merged.filter(_pa.array(keep_mask))
        if merged.num_rows:
            merged = (
                merged.group_by(["file_path", "pos"])
                .aggregate([])
                .sort_by([("file_path", "ascending"), ("pos", "ascending")])
            )
        result["rows_dropped"] = total_rows - merged.num_rows
        max_seq = max(seq for _e, seq in pos_deletes)
        new_entries: list[dict] = []
        if merged.num_rows:
            dest = self.root / "data" / f"delete-{uuid.uuid4().hex}.parquet"
            _pq.write_table(merged, dest)
            new_entries.append(
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": max_seq,
                    "data_file": {
                        "file_path": str(dest),
                        "file_format": "PARQUET",
                        "record_count": merged.num_rows,
                        "content": 1,
                        "partition": None,
                        "equality_ids": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "file_size_in_bytes": dest.stat().st_size,
                    },
                }
            )
        for e, seq in others:
            ne = dict(e)
            ne["status"] = 0  # EXISTING at this snapshot
            ne["sequence_number"] = seq  # pin the original data seq
            new_entries.append(ne)
        self._finish_commit(sid, parent, ts, new_entries, "replace")
        result["delete_files_after"] = 1 if merged.num_rows else 0
        return result

    def rewrite_sorted(
        self,
        spark: SparkSession,
        by: list[str],
        target_files: int = 8,
        timestamp_ms: int | None = None,
    ) -> dict:
        """Sort-clustered rewrite (Iceberg's RewriteDataFiles sort
        strategy — the practical form of Z-ORDER for a single-column or
        lexicographic key): range-repartition the current state on the
        cluster key and sort within partitions, so each output file
        covers a NARROW, nearly disjoint slice of the key space. The
        payoff is in the manifests: per-file bounds become selective,
        and a point/range predicate prunes to ~1 file instead of
        scanning all of them (`data_files_pruned` evidence in tests).
        At 100 TB this is the difference between a key lookup touching
        one file and touching every file the ingest order happened to
        spread the key across.

        Full rewrite by construction (clustering is global): row-level
        deletes are resolved into the output, so the new snapshot reads
        with zero merge-on-read work. History stays (prior snapshots
        time-travel until expire_snapshots)."""
        t = IcebergTable(self.root)
        cur = t.current_snapshot_id()
        if cur is None:
            raise IcebergError("table has no snapshots to rewrite")
        before_files = len(t.files_for_snapshot(cur))
        current = t.read(spark)
        missing = [c for c in by if c not in current.columns]
        if missing:
            raise IcebergError(f"sort columns not in table: {missing}")
        clustered = current.repartitionByRange(target_files, *by).sortWithinPartitions(*by)

        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="iceberg_sort_rewrite_")
        try:
            clustered.write.mode("overwrite").parquet(tmp)
            files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
            # 'replace': clustering is maintenance — same rows, new
            # layout — so changelog consumers must see NO change here
            self.replace_files(files, timestamp_ms=timestamp_ms, operation="replace")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        after = IcebergTable(self.root)
        return {
            "files_before": before_files,
            "files_after": len(after.files_for_snapshot(after.current_snapshot_id())),
            "clustered_by": list(by),
        }

    def rewrite_zorder(
        self,
        spark: SparkSession,
        by: list[str],
        target_files: int = 8,
        bits: int = 16,
        timestamp_ms: int | None = None,
    ) -> dict:
        """Multi-column Z-ORDER rewrite (bit-interleaved space-filling
        curve — the layout Delta OPTIMIZE ZORDER BY and Iceberg's
        sort-order zorder build): each cluster column is min-max
        scaled to a `bits`-wide integer, the bits are interleaved into
        one z-value, and the table is range-partitioned + sorted on
        it. Unlike the lexicographic `rewrite_sorted`, file bounds
        become selective on EVERY cluster column — a predicate on any
        one of them prunes — because the curve keeps multi-dimensional
        locality.

        Numeric columns only (scaling needs an ordered domain);
        min/max come from one tiny agg over the current state. Full
        rewrite; deletes resolved; history stays until
        expire_snapshots."""
        from pyspark.sql import functions as F

        from ..plans.layout import zorder_value

        t = IcebergTable(self.root)
        cur = t.current_snapshot_id()
        if cur is None:
            raise IcebergError("table has no snapshots to rewrite")
        before_files = len(t.files_for_snapshot(cur))
        current = t.read(spark)
        try:
            z = zorder_value(current, by, bits=bits)
        except ValueError as exc:
            raise IcebergError(str(exc)) from exc
        clustered = (
            current.withColumn("__z", z)
            .repartitionByRange(target_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )

        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="iceberg_zorder_")
        try:
            clustered.write.mode("overwrite").parquet(tmp)
            files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
            # 'replace': same rows, new layout — no logical change
            self.replace_files(files, timestamp_ms=timestamp_ms, operation="replace")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        after = IcebergTable(self.root)
        return {
            "files_before": before_files,
            "files_after": len(after.files_for_snapshot(after.current_snapshot_id())),
            "zorder_by": list(by),
        }

    def upsert_files(
        self,
        paths: list[str],
        delete_key_files: list[str],
        equality_cols: list[str],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        """ONE snapshot carrying equality-delete entries (the batch's
        keys) AND the batch's data files at the SAME sequence number —
        the Flink-CDC upsert commit shape. Sequence scoping makes it
        correct by construction: the delete (seq S) applies only to
        data files with seq < S, so the batch's own rows (seq == S)
        survive while every older row with a matching key is removed.

        `delete_key_files` are PRE-WRITTEN parquet files of distinct
        key tuples (one column per equality col) — written
        distributively by the caller (`staged.select(keys).distinct()
        .write.parquet(...)`), committed here by COPY. Key rows never
        pass through the driver: a 100M-row CDC batch's key set stays
        on executors; the manifest entry only needs path / record_count
        / size from the filesystem. Multiple files are fine — each
        becomes its own content=2 entry at the same sequence number
        (equality deletes compose by union), so no coalesce(1)
        single-task bottleneck either. Operation is 'overwrite' (rows
        the consumer saw may be gone -> changes_since resets), and
        prior manifests stay referenced (merge-on-read, no rewrite)."""
        if not paths:
            raise IcebergError("upsert_files requires at least one parquet file")
        self._ensure_schema_from_parquet(paths[0])
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        entries = [
            e
            for kf in delete_key_files
            if (e := self._eq_delete_entry_from_file(kf, equality_cols, sid)) is not None
        ]
        if not entries:
            raise IcebergError("upsert requires at least one non-empty delete-key file")
        entries += self._copied_file_entries(paths, sid)
        return self._finish_commit(sid, parent, ts, entries, "overwrite", retain_prior=True)

    def upsert(
        self,
        df: DataFrame,
        equality_cols: list[str],
        timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        """Partition-spec-aware upsert: ONE snapshot carrying the
        batch's data files (split by the table's partition spec, each
        entry with its typed partition tuple — pruning keeps working
        after the merge) AND the batch's equality-delete key files at
        the same sequence number.

        Delete scoping: when every partition SOURCE column is an
        equality column, an older row matching key K necessarily lives
        in partition(K) — so the key set is hive-partition-split by the
        same derived transforms as the data and each delete file's
        entry carries its partition tuple (the partition-scoped delete
        shape of the spec; the reference's destination protocol has no
        disposition carve-outs, crates/cdf-kernel/src/destination.rs:370-410).
        Otherwise keys may match rows in any partition, so deletes are
        committed globally (partition=None) — correct under
        sequence-scoped application, just not partition-prunable.
        Both sides are written DISTRIBUTIVELY: key rows never pass
        through the driver (same posture as `upsert_files`)."""
        self._ensure_schema_from_df(df)
        missing = [c for c in equality_cols if c not in self._field_ids]
        if missing:
            raise IcebergError(f"equality columns not in schema: {missing}")
        sid = snapshot_id if snapshot_id is not None else self._rng.getrandbits(62)
        parent = self._parent_snapshot_id()
        self._seq += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)

        import shutil

        keys = df.select(*equality_cols).distinct()
        scoped = bool(self._spec_fields) and all(
            c in equality_cols for c, _t, _a, _sn in self._spec_fields
        )
        entries: list[dict] = []
        tmps: list[str] = []
        try:
            if scoped:
                from .partitioned_write import hive_partitioned_write

                staged = keys
                pcols = []
                for c, tname, arg, sn in self._spec_fields:
                    pc = f"__pt_{sn}"
                    staged = staged.withColumn(pc, self._derived_partition_col(c, tname, arg))
                    pcols.append(pc)
                tmp_root, parts = hive_partitioned_write(
                    staged,
                    pcols,
                    drop_partition_cols=True,
                    max_partitions=self.max_partitions_per_commit,
                )
                tmps.append(tmp_root)
                for raw, files in parts:
                    rec = {}
                    for c, tname, arg, sn in self._spec_fields:
                        vt = _transform_value_type(tname, self._field_types.get(c, ""))
                        rec[sn] = self._ice_single_value(
                            self._typed_raw(raw[f"__pt_{sn}"], vt), vt
                        )
                    for kf in files:
                        e = self._eq_delete_entry_from_file(
                            kf, equality_cols, sid, partition=rec
                        )
                        if e is not None:
                            entries.append(e)
            else:
                import tempfile

                tmp = tempfile.mkdtemp(prefix="iceberg_upsert_keys_")
                tmps.append(tmp)
                keys.write.mode("overwrite").parquet(tmp)
                for kf in sorted(str(p) for p in Path(tmp).glob("*.parquet")):
                    e = self._eq_delete_entry_from_file(kf, equality_cols, sid)
                    if e is not None:
                        entries.append(e)
            if not entries:
                raise IcebergError("upsert requires a non-empty batch")
            entries += self._write_df_entries(df, sid)
        finally:
            for t in tmps:
                shutil.rmtree(t, ignore_errors=True)
        return self._finish_commit(sid, parent, ts, entries, "overwrite", retain_prior=True)

    def _eq_delete_entry_from_file(
        self, src: str, equality_cols: list[str], sid: int, partition: dict | None = None
    ) -> dict | None:
        """content=2 entry from a pre-written key parquet, committed by
        COPY; record_count from the footer (no row ever touches the
        driver). Empty part files (parallel writers emit them) are
        skipped -> None. `partition` attaches a typed partition tuple
        (partition-scoped deletes); None = global."""
        import shutil

        import pyarrow.parquet as pq

        nrows = pq.read_metadata(src).num_rows
        if nrows == 0:
            return None
        dest = self.root / "data" / f"eqdelete-{uuid.uuid4().hex}.parquet"
        shutil.copy(str(src), str(dest))
        return {
            "status": 1,
            "snapshot_id": sid,
            "sequence_number": self._seq,
            "data_file": {
                "file_path": str(dest),
                "file_format": "PARQUET",
                "record_count": int(nrows),
                "content": 2,
                "partition": partition,
                "equality_ids": [self._field_ids[c] for c in equality_cols],
                "lower_bounds": None,
                "upper_bounds": None,
                "file_size_in_bytes": dest.stat().st_size,
            },
        }

    def _parent_snapshot_id(self) -> int | None:
        """Parent for the next commit: the CURRENT snapshot (tracked
        through rollback_to), falling back to the list tip."""
        cur = getattr(self, "_cur_sid", None)
        if cur is not None:
            return cur
        return int(self._snapshots[-1]["snapshot-id"]) if self._snapshots else None

    def _finish_commit(
        self, sid, parent, ts, entries, operation, retain_prior=None, branch=None
    ) -> int:
        manifest = self.root / "metadata" / f"manifest-{sid}-{uuid.uuid4().hex[:8]}.avro"
        if not self.partition_by:
            for e in entries:
                e["data_file"].pop("partition", None)
        manifest.write_bytes(write_container(self._entry_schema(), entries))
        mlist = self.root / "metadata" / f"snap-{sid}-manifest-list.avro"
        mlist.write_bytes(
            write_container(
                _MANIFEST_LIST_SCHEMA,
                [
                    {
                        "manifest_path": str(manifest),
                        "manifest_length": manifest.stat().st_size,
                        "partition_spec_id": self._default_spec_id,
                        "added_snapshot_id": sid,
                        "partitions": self._partition_summaries(entries),
                    }
                ],
            )
        )
        # appends and delete commits see all prior data: EXISTING
        # entries for older files live in the prior manifests, which
        # stay referenced via this snapshot's manifest list in a real
        # table; the fixture keeps it simpler by re-listing prior
        # manifests in the new list (an overwrite references only its
        # own manifest)
        # re-list the PARENT snapshot's manifests — not blindly the
        # list tip: after rollback_to the tip is an abandoned branch
        # whose files must NOT ride into the new commit
        prior_ml = None
        for s in self._snapshots:
            if parent is not None and int(s["snapshot-id"]) == int(parent):
                prior_ml = s["manifest-list"]
                break
        if prior_ml is None and self._snapshots:
            prior_ml = self._snapshots[-1]["manifest-list"]
        if retain_prior is None:
            retain_prior = operation in ("append", "delete")
        if prior_ml and retain_prior:
            _, rows = decode_container(Path(file_key(prior_ml)).read_bytes())
            for r in rows:
                r.setdefault("partitions", None)  # rows from pre-summary containers
            new_rows = rows + [
                {
                    "manifest_path": str(manifest),
                    "manifest_length": manifest.stat().st_size,
                    "partition_spec_id": self._default_spec_id,
                    "added_snapshot_id": sid,
                    "partitions": self._partition_summaries(entries),
                }
            ]
            mlist.write_bytes(write_container(_MANIFEST_LIST_SCHEMA, new_rows))
            # older entries must read as EXISTING at this snapshot:
            # their manifests already carry status ADDED with their own
            # snapshot_id — Iceberg readers treat ADDED-by-an-ancestor
            # as live, which files_for_snapshot mirrors (status != 2)

        self._snapshots.append(
            {
                "snapshot-id": sid,
                "sequence-number": self._seq,
                "timestamp-ms": ts,
                "parent-snapshot-id": parent,
                "manifest-list": str(mlist),
                "schema-id": self._current_schema_id,
                "summary": {"operation": operation},
            }
        )
        if branch is not None:
            # branch commit: advance the REF, not the table head — the
            # staged snapshot is invisible to main-table readers until
            # fast_forward publishes it
            self._refs[branch] = {"snapshot-id": sid, "type": "branch"}
        else:
            self._cur_sid = sid
        self._write_metadata()
        return sid

    def _frozen_specs(self) -> list[dict]:
        """Partition-spec history for metadata: spec-0 freezes from
        the live `_spec_fields` on first write; `update_spec` appends
        later specs. Old specs never mutate — files written under them
        keep resolving through their own field list."""
        if not self._specs_json:
            self._specs_json = [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": sn,
                            "transform": (
                                tname if arg is None else f"{tname}[{arg}]"
                            ),
                            "source-id": self._field_ids[c],
                            "field-id": 1000 + i,
                        }
                        for i, (c, tname, arg, sn) in enumerate(self._spec_fields)
                    ],
                }
            ]
        return list(self._specs_json)

    def update_spec(self, partition_by) -> int:
        """PARTITION SPEC EVOLUTION (Iceberg spec §Partition Evolution;
        reader counterpart in `data_files_pruned`'s per-spec
        interpretation): a NEW spec becomes the default for future
        commits while existing files keep their original spec — no
        data is rewritten, exactly how real engines re-partition
        hot tables. Partition field ids continue from the table-wide
        max (they are table-unique across specs). Metadata-only: the
        spec change is a new metadata.json version, not a snapshot."""
        if self.omit_partition_cols:
            raise IcebergError(
                "update_spec on an omit_partition_cols table would orphan "
                "reconstitution metadata — not supported"
            )
        if not self._schemas:
            raise IcebergError(
                "update_spec requires a committed schema (field ids are "
                "assigned by the first append)"
            )
        new_fields = self._parse_partition_by(partition_by)
        for c, _t, _a, _sn in new_fields:
            if c not in self._field_ids:
                raise IcebergError(f"partition source column {c!r} not in schema")
        specs = self._frozen_specs()  # freezes spec-0 if needed
        next_spec_id = max(int(s.get("spec-id", 0)) for s in specs) + 1
        next_pfid = (
            max(
                (int(f.get("field-id", 999)) for s in specs for f in s.get("fields", [])),
                default=999,
            )
            + 1
        )
        self._specs_json.append(
            {
                "spec-id": next_spec_id,
                "fields": [
                    {
                        "name": sn,
                        "transform": tname if arg is None else f"{tname}[{arg}]",
                        "source-id": self._field_ids[c],
                        "field-id": next_pfid + i,
                    }
                    for i, (c, tname, arg, sn) in enumerate(new_fields)
                ],
            }
        )
        self._default_spec_id = next_spec_id
        self._spec_fields = new_fields
        self.partition_by = [c for c, _t, _a, _sn in new_fields]
        self._write_metadata()
        return next_spec_id

    def _write_metadata(self) -> None:
        """New metadata.json version (every commit AND every schema
        change — Iceberg metadata versions are immutable)."""
        self._version += 1
        meta = {
            "format-version": 2,
            "table-uuid": self.table_uuid,
            "location": str(self.root),
            "last-sequence-number": self._seq,
            "current-schema-id": self._current_schema_id,
            "schemas": list(self._schemas),
            "default-spec-id": self._default_spec_id,
            "partition-specs": self._frozen_specs(),
            "current-snapshot-id": (
                self._parent_snapshot_id() if self._snapshots else -1
            ),
            "snapshots": self._snapshots,
            "snapshot-log": [
                {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
                for s in self._snapshots
            ],
        }
        if self._refs:
            meta["refs"] = dict(self._refs)
        # optimistic concurrency: metadata versions are immutable and
        # the version number IS the compare-and-swap token (what a
        # catalog CAS provides on a real deployment). O_EXCL create
        # detects a concurrent writer that committed the same version
        # first — the loser fails loudly instead of silently forking
        # or clobbering the table history.
        target = self.root / "metadata" / f"v{self._version}.metadata.json"
        try:
            with open(target, "x") as fh:
                fh.write(json.dumps(meta, indent=2))
        except FileExistsError:
            self._version -= 1
            raise IcebergError(
                f"concurrent commit detected: metadata version v{self._version + 1} "
                "already exists — reload the table and retry the commit"
            ) from None
        (self.root / "metadata" / "version-hint.text").write_text(str(self._version))
