"""Delta-Lake-format table reader: transaction-log replay, version and
timestamp time travel, and incremental `changes_since` over the real
`_delta_log` directory layout — no Delta jars.

Delta's metadata is plainer than Iceberg's: the log is a sequence of
JSON-lines commit files,

    <root>/_delta_log/00000000000000000000.json    (version 0)
    <root>/_delta_log/00000000000000000001.json    (version 1) ...

each carrying actions — `metaData` (schema, partition columns), `add`
(data file becomes live), `remove` (data file leaves the live set),
`commitInfo` (timestamp, operation). A snapshot at version V is the
replay of all actions 0..V: adds minus removes. Data files are parquet
under the table root (paths are root-relative per the protocol).

Scale design: identical to the Iceberg reader — the log is tiny
driver-side metadata (exactly how Delta's own planner treats it); the
data path is a plain multi-file `spark.read.parquet(*files)`, keeping
predicate pushdown, column pruning, and split planning with Catalyst.
Versions are consecutive integers (the protocol's optimistic-
concurrency invariant), so `TableSnapshotPosition(snapshot_id=version)`
orders naturally — no ancestry walk needed, unlike Iceberg's random
snapshot ids.

Parquet checkpoint files (`*.checkpoint.parquet` + `_last_checkpoint`)
are an optimization for thousand-commit logs; this reader replays JSON
commits and reads a checkpoint when one is present, erroring only if a
log is checkpoint-ONLY in a form it cannot parse.

DELETION VECTORS (protocol readerFeature `deletionVectors`) are
honored merge-on-read: `add` actions may carry a DV descriptor whose
bitmap marks deleted row positions; descriptors decode executor-side
(`delta_dv.py`) and anti-join parquet `_metadata.row_index`. The
fixture writer's `delete_where` writes real DV files/inline vectors
with the protocol upgrade, so DV reads are exercised against a
genuine DV table. Column mapping remains detect-and-refuse.

A fixture writer emits the same layout so tests and the oracle gate
exercise the reader against a genuine Delta directory.
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..expressions.lowering import lower
from ..plans.layout import attach_file_values, scan_file_key
from ..plans.scan import Capability, ScanPlan, ScanRequest, negotiate
from ..positions import TableSnapshotPosition


class DeltaError(ValueError):
    pass


def _typed_partition_value(raw: str, dtype):
    """partitionValues string -> typed python value by the declared
    schema type. A value that fails its declared parse stays a string
    (cross-type comparisons are undecidable in `_eval_on_values`, so a
    miss widens the scan, never corrupts it)."""
    import datetime as _dt

    from pyspark.sql import types as T

    try:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(raw)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return float(raw)
        if isinstance(dtype, T.DateType):
            return _dt.date.fromisoformat(raw)
        if isinstance(dtype, T.BooleanType):
            return raw.lower() == "true"
    except (ValueError, TypeError):
        pass
    return raw


def _cm_type_json(t, rename: bool, with_ids: bool):
    """Recursive twin of `_cm_field_json` over a schemaString type
    node: structs map their fields, arrays/maps recurse into their
    element/key/value types (structs inside containers carry mapped
    named fields too)."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return {
                "type": "struct",
                "fields": [
                    _cm_field_json(f, rename, with_ids) for f in t.get("fields", [])
                ],
            }
        if k == "array":
            return {
                **t,
                "elementType": _cm_type_json(t.get("elementType"), rename, with_ids),
            }
        if k == "map":
            return {
                **t,
                "keyType": _cm_type_json(t.get("keyType"), rename, with_ids),
                "valueType": _cm_type_json(t.get("valueType"), rename, with_ids),
            }
    return t


def _cm_field_json(f: dict, rename: bool, with_ids: bool) -> dict:
    """One schemaString field under column mapping, at ANY nesting
    depth: `rename` swaps the name for delta.columnMapping.physicalName
    (name-mode physical schemas); `with_ids` emits parquet.field.id
    metadata from delta.columnMapping.id (id-mode field-id matching —
    Spark's parquet reader/writer honor nested field ids, so the same
    indirection that makes top-level renames safe covers struct fields
    inside structs/arrays/maps)."""
    meta = f.get("metadata") or {}
    phys = meta.get("delta.columnMapping.physicalName", f["name"])
    cmid = meta.get("delta.columnMapping.id")
    if with_ids and cmid is None:
        raise DeltaError(
            f"id-mapped table field {f['name']!r} carries no delta.columnMapping.id"
        )
    return {
        "name": str(phys) if rename else f["name"],
        "type": _cm_type_json(f.get("type"), rename, with_ids),
        "nullable": f.get("nullable", True),
        "metadata": {"parquet.field.id": int(cmid)} if with_ids else {},
    }


def _rename_cast_type(fjson: dict):
    """Spark DataType for renaming a complex column's nested fields via
    CAST (struct casts match positionally), with nullability RELAXED at
    every level: the cast exists only to rename, and Spark refuses a
    cast that narrows nullability (a parquet read-back often reports
    array elements nullable even when written non-null)."""
    from pyspark.sql import types as T

    def relax(t):
        if isinstance(t, T.StructType):
            # keep field metadata: id-mode write casts carry nested
            # parquet.field.id stamps through this type
            return T.StructType(
                [
                    T.StructField(f.name, relax(f.dataType), True, f.metadata)
                    for f in t.fields
                ]
            )
        if isinstance(t, T.ArrayType):
            return T.ArrayType(relax(t.elementType), True)
        if isinstance(t, T.MapType):
            return T.MapType(relax(t.keyType), relax(t.valueType), True)
        return t

    dt = T.StructType.fromJson({"type": "struct", "fields": [fjson]}).fields[0].dataType
    return relax(dt)


def is_delta_layout(root: str | Path) -> bool:
    """True when the directory carries a Delta transaction log."""
    log = Path(str(root)) / "_delta_log"
    return log.is_dir() and any(log.glob("*.json"))


def _footer_stats(path) -> dict:
    """Delta add-action `stats` from the parquet footer: numRecords
    plus per-column minValues/maxValues merged across row groups —
    the data-skipping stats real Delta writers emit. Only
    JSON-faithful comparable types are stamped (ints, floats,
    strings); anything else is skipped, which the tri-state pruner
    treats as unbounded (keep the file)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(str(path))
    minv: dict[str, object] = {}
    maxv: dict[str, object] = {}
    covered: dict[str, int] = {}  # row groups a column was stamped from
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str)) or isinstance(lo, bool):
                continue
            if isinstance(lo, str) and (len(lo) > 64 or len(hi) > 64):
                # long string bounds may be writer-TRUNCATED in the
                # footer; a truncated max understates the true max and
                # would wrongly prune — skip rather than risk it
                continue
            covered[name] = covered.get(name, 0) + 1
            minv[name] = lo if name not in minv else min(minv[name], lo)
            maxv[name] = hi if name not in maxv else max(maxv[name], hi)
    # a column is only stampable when EVERY row group contributed
    # statistics: bounds merged from a subset understate the file's
    # true range, and data skipping would then prune a file that
    # contains matching rows — wrong results, not a missed
    # optimization. Dropped columns read as unbounded (keep the file).
    full = {n for n, c in covered.items() if c == md.num_row_groups}
    minv = {n: v for n, v in minv.items() if n in full}
    maxv = {n: v for n, v in maxv.items() if n in full}
    out: dict[str, object] = {"numRecords": int(md.num_rows)}
    if minv:
        out["minValues"] = minv
        out["maxValues"] = maxv
    return out


class DeltaTable:
    """Read-side driver over a Delta table directory."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.log_dir = self.root / "_delta_log"
        if not self.log_dir.is_dir():
            raise DeltaError(f"{self.root} has no _delta_log/ — not a Delta table")

    # -- log resolution ---------------------------------------------------
    def versions(self) -> list[int]:
        """Versions with a surviving JSON commit (a log-cleaned table
        keeps only the checkpoint + recent JSONs; pre-checkpoint
        versions live inside the checkpoint parquet)."""
        out = []
        for p in self.log_dir.glob("*.json"):
            stem = p.stem
            if stem.isdigit():
                out.append(int(stem))
        if not out and self._checkpoint_info() is None:
            raise DeltaError(f"no commit json files under {self.log_dir}")
        return sorted(out)

    def current_version(self) -> int:
        js = self.versions()
        ck = self._checkpoint_info()
        cands = js + ([int(ck["version"])] if ck is not None else [])
        return max(cands)

    # -- checkpoint resolution --------------------------------------------
    def _checkpoint_info(self) -> dict | None:
        p = self.log_dir / "_last_checkpoint"
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def _checkpoint_paths(self, version: int) -> list[Path]:
        single = self.log_dir / f"{version:020d}.checkpoint.parquet"
        if single.exists():
            return [single]
        parts = sorted(self.log_dir.glob(f"{version:020d}.checkpoint.*.parquet"))
        if parts:
            return parts
        raise DeltaError(
            f"_last_checkpoint names version {version} but no checkpoint parquet exists"
        )

    def _checkpoint_actions(self, version: int) -> list[dict]:
        """Actions reconstructed from the checkpoint parquet (single or
        multi-part): each row carries at most one non-null action
        struct. The checkpoint IS the complete replay of versions
        0..version — how every production Delta table compacts its log
        (the JSON commits before it are eventually cleaned)."""
        import pyarrow.parquet as pq

        def demap(v):
            # parquet map<string,string> round-trips through pyarrow as
            # a list of (k, v) tuples — normalize back to the dict the
            # JSON-commit path produces so downstream .get() works
            if (
                isinstance(v, list)
                and v
                and all(isinstance(e, tuple) and len(e) == 2 for e in v)
            ):
                return dict(v)
            if isinstance(v, dict):
                return {k: demap(x) for k, x in v.items()}
            return v

        out = []
        for p in self._checkpoint_paths(version):
            for r in pq.read_table(p).to_pylist():
                for k in ("add", "remove", "metaData", "protocol", "txn"):
                    if r.get(k) is not None:
                        out.append({k: demap(r[k])})
        return out

    def _commit_path(self, version: int) -> Path:
        return self.log_dir / f"{version:020d}.json"

    def actions(self, version: int) -> list[dict]:
        p = self._commit_path(version)
        if not p.exists():
            raise DeltaError(f"version {version} not in log ({p.name} missing)")
        return [json.loads(line) for line in p.read_text().splitlines() if line.strip()]

    def commit_timestamp_ms(self, version: int) -> int:
        for a in self.actions(version):
            ci = a.get("commitInfo")
            if ci and "timestamp" in ci:
                return int(ci["timestamp"])
        # protocol fallback: the commit file's modification time
        return int(self._commit_path(version).stat().st_mtime * 1000)

    def version_as_of(self, timestamp_ms: int) -> int:
        eligible = [v for v in self.versions() if self.commit_timestamp_ms(v) <= timestamp_ms]
        if not eligible:
            raise DeltaError(f"no commit at or before {timestamp_ms}")
        return eligible[-1]

    def position(self) -> TableSnapshotPosition:
        return TableSnapshotPosition(snapshot_id=self.current_version())

    # -- snapshot replay --------------------------------------------------
    def _resolve(self, path: str) -> str:
        p = Path(path)
        return str(p if p.is_absolute() else self.root / p)

    def _check_protocol(self, version: int) -> None:
        """Refuse table features this jar-free reader cannot honor,
        instead of silently misreading (the same detect-and-refuse
        posture as Hudi merge-on-read):

        - minReaderVersion > 1 (column mapping, reader features) unless
          every advertised readerFeature is one this reader honors:
          deletionVectors (decoded merge-on-read, `delta_dv.py`),
          columnMapping (name mode — physical->logical rename at scan,
          same field-discipline as the Iceberg reader's field ids),
          and timestampNtz (type-level only).
        - column mapping mode 'id' resolves through Spark's native
          parquet field-id matching (`spark.sql.parquet.fieldId.read`),
          so physical names are ignored entirely — the protocol's id
          semantics, not a name-based approximation.

        Checkpoint rows are checked too (a cleaned log may carry the
        protocol/metaData actions ONLY inside the checkpoint parquet).
        """
        supported = {"timestampNtz", "deletionVectors", "columnMapping"}

        def check_action(a: dict) -> None:
            proto = a.get("protocol")
            if proto:
                feats = set(proto.get("readerFeatures") or [])
                if int(proto.get("minReaderVersion") or 1) > 1 and not feats <= supported:
                    raise DeltaError(
                        f"unsupported reader protocol: minReaderVersion="
                        f"{proto.get('minReaderVersion')} readerFeatures={sorted(feats)}"
                    )
            md = a.get("metaData")
            if md:
                cdf_on = (md.get("configuration") or {}).get("delta.enableChangeDataFeed")
                if str(cdf_on).lower() == "true":
                    self.change_data_feed = True
                mode = (md.get("configuration") or {}).get("delta.columnMapping.mode", "none")
                if mode not in ("none", "", None, "name", "id"):
                    raise DeltaError(f"column mapping mode {mode!r} is not supported")

        ckpt = self._checkpoint_info()
        if ckpt is not None and int(ckpt["version"]) <= version:
            for a in self._checkpoint_actions(int(ckpt["version"])):
                check_action(a)
        for v in self.versions():
            if v > version:
                break
            for a in self.actions(v):
                check_action(a)

    def metadata_for_version(self, version: int) -> dict:
        """The table's metaData action as of `version` (checkpoint
        state then JSON commits, last writer wins)."""
        out: dict = {}
        ckpt = self._checkpoint_info()
        if ckpt is not None and int(ckpt["version"]) <= version:
            for a in self._checkpoint_actions(int(ckpt["version"])):
                if a.get("metaData"):
                    out = a["metaData"]
        for v in self.versions():
            if v > version:
                break
            for a in self.actions(v):
                if a.get("metaData"):
                    out = a["metaData"]
        return out

    def check_constraints(self, version: int | None = None) -> dict[str, str]:
        """CHECK constraints in force at `version` (current when None):
        {name: SQL expr} from the configuration's `delta.constraints.*`
        keys. Readers don't enforce them (a writer-side protocol
        feature, minWriterVersion>=3); surfaced for inspection and for
        contract admission to mirror."""
        v = version if version is not None else self.current_version()
        cfg = self.metadata_for_version(v).get("configuration") or {}
        pre = "delta.constraints."
        return {k[len(pre):]: str(val) for k, val in cfg.items() if k.startswith(pre)}

    def _cm_mode(self, version: int) -> str:
        md = self.metadata_for_version(version)
        return (md.get("configuration") or {}).get("delta.columnMapping.mode", "none")

    def _column_mapping(self, version: int) -> list[tuple[str, str, dict]] | None:
        """[(physical_name, logical_name, field_json)] in schema order
        when the table is column-mapped (name OR id mode — the protocol
        requires delta.columnMapping.physicalName in both), else None.
        Nested fields are handled through the field json: the physical
        read schema and the logical rebuild both derive from it
        recursively (`_cm_field_json`), so struct/array/map columns
        with mapped inner fields read correctly."""
        md = self.metadata_for_version(version)
        mode = (md.get("configuration") or {}).get("delta.columnMapping.mode", "none")
        if mode not in ("name", "id"):
            return None
        schema = json.loads(md.get("schemaString") or "{}")
        pairs: list[tuple[str, str, dict]] = []
        for f in schema.get("fields", []):
            phys = (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
            if phys is None:
                # unmapped field in a mapped table: physical == logical
                phys = f["name"]
            pairs.append((str(phys), str(f["name"]), f))
        return pairs

    def _apply_column_mapping(self, df: DataFrame, version: int) -> DataFrame:
        """Rename physical parquet columns to logical schema names for
        column-mapped tables; identity for unmapped tables. Complex
        columns (mapped nested fields) rename via a CAST to the
        logical type — struct casts match positionally, which is
        exactly the recursive rename, at any depth."""
        pairs = self._column_mapping(version)
        if not pairs:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cols = []
        for p, l, fjson in pairs:
            expr = F.col(p)
            if not isinstance(fjson.get("type"), str):
                expr = expr.cast(_rename_cast_type(fjson))
            cols.append(expr.alias(l))
        return df.select(*cols)

    def partition_columns(self, version: int) -> list[str]:
        return list(self.metadata_for_version(version).get("partitionColumns") or [])

    def _logical_schema(self, version: int):
        from pyspark.sql import types as T

        ss = self.metadata_for_version(version).get("schemaString")
        if not ss:
            return None
        try:
            return T.StructType.fromJson(json.loads(ss))
        except Exception:
            return None

    def _finish_partitioned(self, df: DataFrame, version: int) -> DataFrame:
        """Partitioned tables: the hive-dir partition columns Spark
        reconstitutes under `basePath` come back with INFERRED types
        and appended last — cast them to the declared schemaString
        types and restore the declared column order (the protocol
        stores partition columns only as partitionValues strings; the
        data files don't carry them)."""
        pcols = self.partition_columns(version)
        if not pcols:
            return df
        schema = self._logical_schema(version)
        from pyspark.sql import functions as F

        by_name = {f.name: f for f in schema.fields} if schema else {}
        out = df
        for c in pcols:
            f = by_name.get(c)
            if f is not None:
                out = out.withColumn(c, F.col(c).cast(f.dataType))
        order = [f.name for f in schema.fields] if schema else out.columns
        return out.select(*[c for c in order if c in out.columns])

    def _read_schema_for(self, version: int):
        """(explicit read schema | None, needs_field_id_conf). The
        declared schemaString drives every read: files written before
        a widening commit lack the new columns and must null-fill
        DETERMINISTICALLY (Spark's schema-less multi-file read picks
        one file's footer — nondeterministic under evolution). Both
        mapping modes return the PHYSICAL-named schema (renamed back
        after read) — the same resolution delta-spark's
        createPhysicalSchema uses. Id mode ADDITIONALLY attaches
        `parquet.field.id` metadata at every depth and turns on
        Spark's field-id matcher, so files whose physical names differ
        (an external id-mode writer) still resolve by id; pruned
        nested fields, whose id metadata Spark's nested-schema-pruning
        drops, fall back to matching the physical NAME we requested —
        reading the logical schema with ids alone silently nulls
        those fields."""
        schema = self._logical_schema(version)
        if schema is None or not schema.fields:
            return None, False
        pairs = self._column_mapping(version)
        if pairs:
            from pyspark.sql import types as T

            with_ids = self._cm_mode(version) == "id"
            # PHYSICAL-named schema at every depth — the names the data
            # files actually carry, nested struct fields included
            return (
                T.StructType.fromJson(
                    {
                        "type": "struct",
                        "fields": [
                            _cm_field_json(fjson, rename=True, with_ids=with_ids)
                            for _p, _l, fjson in pairs
                        ],
                    }
                ),
                with_ids,
            )
        return schema, False

    def _read_files(self, spark: SparkSession, files: list[str], version: int) -> DataFrame:
        """Read data files with the table's column-mapping and
        partitioning discipline: id mode -> field-id-matched read
        under the logical schema; name mode -> physical read + rename;
        partitioned -> basePath read (Spark reconstitutes the hive-dir
        partition columns); schema-evolved -> declared-schema read
        (older files null-fill the added columns); unmapped -> plain."""
        schema, fid = self._read_schema_for(version)
        if fid:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if self.partition_columns(version):
            if any(not self._under_root(f) for f in files):
                return self._read_linked_partitioned(spark, files, version)
            reader = reader.option("basePath", str(self.root))
        df = self._apply_column_mapping(reader.parquet(*files), version)
        return self._finish_partitioned(df, version)

    def _under_root(self, path: str) -> bool:
        try:
            Path(path).resolve().relative_to(self.root.resolve())
            return True
        except ValueError:
            return False

    def _read_linked_partitioned(
        self, spark: SparkSession, files: list[str], version: int
    ) -> DataFrame:
        """Partitioned table whose live files are LINKED by absolute
        path (the XTable / shallow-clone shape): the files live in the
        SOURCE table's layout, so Spark's hive-directory inference
        cannot reconstitute the partition columns. Reconstitute them
        from the log's add.partitionValues instead — the protocol's
        authoritative record — attached per file to one multi-file
        scan (`plans.layout.attach_file_values`)."""
        schema = self._logical_schema(version)
        if schema is None:
            raise DeltaError("linked partitioned read requires a declared schema")
        pv_of = {p: pv for p, _dv, pv in self.live_adds(version)}
        by_name = {f.name: f for f in schema.fields}
        values = {f: pv_of.get(f) or {} for f in files}
        part_names = sorted({c for pv in values.values() for c in pv if c in by_name})
        df = attach_file_values(
            spark.read.schema(schema).parquet(*files),
            values,
            [(c, by_name[c].dataType) for c in part_names],
        )
        return df.select(*[f.name for f in schema.fields])

    def files_for_version(self, version: int) -> list[str]:
        return [p for p, _dv in self.live_files_with_dvs(version)]

    def live_add_actions(self, version: int) -> dict[str, dict]:
        """Stored-path -> full `add` action dict at `version`: the
        checkpoint state (complete replay of 0..ckpt) when one covers
        the pin, then the JSON add/remove actions after it. A re-`add`
        of a path replaces its action (the protocol's DV attach:
        remove + add-with-DV in one commit). Every version in the
        replayed range must actually be present — a cleaned gap raises
        instead of silently dropping the missing commits' files."""
        js = self.versions()
        ckpt = self._checkpoint_info()
        ckpt_v = int(ckpt["version"]) if ckpt is not None else None
        if version not in js and version != ckpt_v:
            raise DeltaError(f"version {version} not in log")
        live: dict[str, dict] = {}
        if ckpt_v is not None and ckpt_v <= version:
            self._check_protocol(version)
            for a in self._checkpoint_actions(ckpt_v):
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
            start = ckpt_v + 1
        else:
            self._check_protocol(version)
            start = 0
        missing = set(range(start, version + 1)) - set(js)
        if missing:
            raise DeltaError(
                f"log history incomplete for version {version}: commit json(s) "
                f"{sorted(missing)} cleaned and not covered by a checkpoint"
            )
        for v in js:
            if v < start:
                continue
            if v > version:
                break
            for a in self.actions(v):
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
        return live

    def live_adds(self, version: int) -> list[tuple[str, dict | None, dict]]:
        """Live (file, deletionVector-descriptor, partitionValues)
        triples at `version` — see live_add_actions."""
        return sorted(
            (self._resolve(p), a.get("deletionVector"), a.get("partitionValues") or {})
            for p, a in self.live_add_actions(version).items()
        )

    def metadata_count(self, version: int | None = None) -> int | None:
        """COUNT(*) from log arithmetic alone — zero data files opened:
        each live add's `stats.numRecords` minus its deletion vector's
        `cardinality` (the descriptor carries the exact deleted-row
        count, so DVs subtract exactly — unlike Iceberg equality
        deletes, which force a scan fallback there). Returns None when
        any live add lacks stats (e.g. written by a statless writer or
        replayed through a pre-stats checkpoint) — the caller falls
        back to a real scan rather than guessing."""
        v = version if version is not None else self.current_version()
        total = 0
        for _p, add in self.live_add_actions(v).items():
            st = add.get("stats")
            if not st:
                return None
            n = json.loads(st).get("numRecords")
            if n is None:
                return None
            total += int(n)
            dv = add.get("deletionVector")
            if dv is not None:
                card = dv.get("cardinality")
                if card is None:
                    return None
                total -= int(card)
        return total

    def live_files_with_dvs(self, version: int) -> list[tuple[str, dict | None]]:
        return [(p, dv) for p, dv, _pv in self.live_adds(version)]

    def added_files(self, version: int, data_change_only: bool = False) -> list[str]:
        self._check_protocol(version)
        return sorted(
            self._resolve(a["add"]["path"])
            for a in self.actions(version)
            if "add" in a
            and (not data_change_only or a["add"].get("dataChange", True))
        )

    def has_removes(self, version: int) -> bool:
        return any("remove" in a and a["remove"].get("dataChange", True) for a in self.actions(version))

    def table_changes_between_timestamps(
        self,
        spark: SparkSession,
        from_ts_ms: int,
        to_ts_ms: int | None = None,
    ) -> DataFrame:
        """Timestamp-addressed CHANGE DATA FEED window (delta.io's
        startingTimestamp/endingTimestamp): versions whose commit
        timestamp falls in [from_ts_ms, to_ts_ms]. A start PAST the
        latest commit raises (nothing can ever enter the window —
        delta.io errors identically); a start before history begins
        clamps to version 0, where the completeness check then raises
        if that version was cleaned."""
        versions = self.versions()
        if not versions:
            raise DeltaError("table has no commits")
        ts_of = {v: self.commit_timestamp_ms(v) for v in versions}
        if from_ts_ms > ts_of[versions[-1]]:
            raise DeltaError(
                f"startingTimestamp {from_ts_ms} is after the latest commit "
                f"({ts_of[versions[-1]]}) — no changes can enter the window"
            )
        lo = next(v for v in versions if ts_of[v] >= from_ts_ms)
        hi = None
        if to_ts_ms is not None:
            eligible = [v for v in versions if ts_of[v] <= to_ts_ms]
            if not eligible:
                raise DeltaError(
                    f"endingTimestamp {to_ts_ms} precedes the first commit"
                )
            hi = eligible[-1]
        return self.table_changes(spark, lo, hi)

    def table_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """CHANGE DATA FEED reader (`table_changes`): row-level changes
        between versions, each row tagged `_change_type`
        (insert / update_preimage / update_postimage / delete) and
        `_commit_version`. Per version:

        - `cdc` actions present -> the commit's `_change_data/` files
          ARE the change set (written by delete_where / DV merge /
          RESTORE on a CDF table);
        - data-changing adds with NO removes (blind append) -> the
          added files' rows are the inserts, derived without cdc files
          (the protocol's optimization for append-only commits);
        - data-changing removes without cdc (an opaque overwrite /
          delete, or a restore committed before CDF was enabled) ->
          the change set is DERIVED from the log with the same
          changed-files multiset diff `restore()` commits
          (`_restore_changes`): rows of the previous version's
          changed files EXCEPT-ALL rows of this version's changed
          files are deletes, the reverse are inserts. delta.io errors
          here; we derive net changes instead (the diff shuffles only
          the commit's changed-file rows — O(commit), not O(table)).
          Updates surface as delete+insert, not
          update_preimage/update_postimage: without change files the
          log carries no row pairing;
        - dataChange=false commits (OPTIMIZE/ZORDER) -> no changes.

        This is what removes the full-reread reset for CDC consumers:
        changes_since() must reset on any remove, table_changes()
        replays exact row-level deltas through merges and deletes."""
        cur = self.current_version()
        hi = cur if to_version is None else to_version
        cfg = (self.metadata_for_version(hi).get("configuration") or {})
        if str(cfg.get("delta.enableChangeDataFeed")).lower() != "true":
            raise DeltaError(
                "change data feed is not enabled on this table "
                "(delta.enableChangeDataFeed)"
            )
        from functools import reduce

        from pyspark.sql import functions as F

        # completeness: every version in the window must still have its
        # commit JSON — after clean_log a missing version would silently
        # contribute NOTHING (a partial change set), where delta.io
        # errors that the CDF range is unavailable. Same discipline as
        # live_add_actions' cleaned-gap raise.
        have = set(self.versions())
        missing = sorted(v for v in range(from_version, hi + 1) if v not in have)
        if missing:
            raise DeltaError(
                f"change data feed range [{from_version}, {hi}] is incomplete: "
                f"versions {missing} are no longer in the log (clean_log) — "
                "consume from a snapshot instead"
            )
        parts: list[DataFrame] = []
        for v in self.versions():
            if v < from_version or v > hi:
                continue
            acts = self.actions(v)
            cdc = [a["cdc"] for a in acts if "cdc" in a]
            adds = [
                a["add"]
                for a in acts
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in acts
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if cdc:
                df = spark.read.parquet(*[self._resolve(c["path"]) for c in cdc])
            elif adds and not removes:
                # _read_files already applies column mapping and
                # partition reconstitution for the pinned version
                df = self._read_files(
                    spark, [self._resolve(a["path"]) for a in adds], v
                ).withColumn("_change_type", F.lit("insert"))
            elif removes:
                # overwrite/delete/old-restore without change files:
                # net-diff the versions over CHANGED files only — the
                # machinery restore() already commits, reused for
                # in-window derivation (r8 verdict item 2). v must
                # have a predecessor (v=0 cannot carry removes of
                # nothing; guard anyway).
                if v == 0:
                    raise DeltaError(
                        "version 0 carries removes — corrupt log"
                    )
                df = self._restore_changes(spark, v, v - 1)
            else:
                continue  # maintenance-only commit
            parts.append(
                df.withColumn("_commit_version", F.lit(int(v)).cast("long"))
                .withColumn(
                    "_commit_timestamp",
                    F.lit(self.commit_timestamp_ms(v) / 1000.0).cast("timestamp"),
                )
            )
        if not parts:
            raise DeltaError(
                f"no versions in range [{from_version}, {hi}] produced changes"
            )
        # schema widening inside the range: older versions' change
        # rows null-fill the added columns
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def _restore_changes(
        self, spark: SparkSession, target_v: int, cur_v: int
    ) -> DataFrame:
        """Row-level change set of moving from `cur_v` to `target_v`,
        computed only over files whose add action differs between the
        versions (new DV, re-added, or removed): inserts =
        target-side rows minus current-side rows; deletes = the
        reverse. Both sides read version-pinned (DVs, column mapping,
        partition reconstitution all apply), so a file whose DV grew
        contributes exactly the re-appearing rows. Used by RESTORE's
        CDF emission (target < cur) and by `table_changes` to derive
        an overwrite commit's net changes in-window (target = v,
        cur = v-1). The EXCEPT-ALL shuffles only the changed files'
        rows — O(commit), never O(table)."""
        from pyspark.sql import functions as F

        target = self.live_add_actions(target_v)
        current = self.live_add_actions(cur_v)
        tgt_files = [self._resolve(p) for p, a in target.items() if current.get(p) != a]
        cur_files = [self._resolve(p) for p, a in current.items() if target.get(p) != a]
        tgt_rows = self.read(spark, version=target_v, _files=tgt_files)
        cur_rows = self.read(spark, version=cur_v, _files=cur_files)

        def align(a: DataFrame, b: DataFrame) -> DataFrame:
            for c in b.columns:
                if c not in a.columns:
                    a = a.withColumn(c, F.lit(None).cast(b.schema[c].dataType))
            return a

        tgt_rows, cur_rows = align(tgt_rows, cur_rows), align(cur_rows, tgt_rows)
        cols = sorted(tgt_rows.columns)
        tgt_rows, cur_rows = tgt_rows.select(*cols), cur_rows.select(*cols)
        return (
            tgt_rows.exceptAll(cur_rows)
            .withColumn("_change_type", F.lit("insert"))
            .unionByName(
                cur_rows.exceptAll(tgt_rows).withColumn("_change_type", F.lit("delete"))
            )
        )

    def vacuum(
        self,
        retention_ms: int = 7 * 24 * 3600 * 1000,
        now_ms: int | None = None,
        dry_run: bool = False,
    ) -> dict:
        """Physical-storage maintenance (Delta VACUUM): delete data /
        deletion-vector files that are NOT referenced by the CURRENT
        version and whose last reference is older than the retention
        window. The reclamation counterpart to `clean_log` (which only
        trims commit JSONs): without it every overwrite / merge /
        compaction keeps its superseded files forever.

        Protocol semantics, same as delta.io VACUUM:
        - the current version's live adds (and their 'u'/'p' DV files)
          are NEVER touched;
        - a tombstoned file's age is its remove action's
          deletionTimestamp (file mtime as the fallback for orphans no
          action references, e.g. a crashed writer's leftovers);
        - time travel to versions older than the retention window
          stops working once their files are reclaimed — by design.

        Walks the table tree (partition dirs included), skipping
        `_delta_log`. Dry-run returns the same report without
        deleting."""
        import time as _time

        now = int(now_ms if now_ms is not None else _time.time() * 1000)
        cur = self.current_version()
        live: set[str] = set()
        for path, dv, _pv in self.live_adds(cur):
            live.add(str(Path(self._resolve(path)).resolve()))
            if dv and dv.get("storageType") in ("u", "p"):
                from .delta_dv import dv_file_name, z85_decode

                if dv["storageType"] == "u":
                    import uuid as _uuid

                    enc = dv["pathOrInlineDv"]
                    prefix, uid85 = enc[:-20], enc[-20:]
                    uid = _uuid.UUID(bytes=z85_decode(uid85))
                    live.add(str((self.root / dv_file_name(uid, prefix)).resolve()))
                else:
                    live.add(str(Path(dv["pathOrInlineDv"]).resolve()))
        removed_at: dict[str, int] = {}
        for v in self.versions():
            for a in self.actions(v):
                r = a.get("remove")
                if r and r.get("path"):
                    key = str(Path(self._resolve(r["path"])).resolve())
                    ts = int(r.get("deletionTimestamp") or 0)
                    removed_at[key] = max(removed_at.get(key, 0), ts)
                # change-data files referenced by a SURVIVING log
                # version are live: table_changes replays them for as
                # long as the commit JSON exists — only clean_log makes
                # them reclaimable (found by self-review: vacuum used
                # to delete a fresh commit's CDC file at retention 0)
                c = a.get("cdc")
                if c and c.get("path"):
                    live.add(str(Path(self._resolve(c["path"])).resolve()))
        deleted: list[str] = []
        kept_recent: list[str] = []
        for p in sorted(self.root.rglob("*")):
            if not p.is_file() or "_delta_log" in p.parts:
                continue
            if p.suffix != ".parquet" and not p.name.startswith("deletion_vector_"):
                continue
            rp = str(p.resolve())
            if rp in live:
                continue
            ts = removed_at.get(rp, int(p.stat().st_mtime * 1000))
            if now - ts >= retention_ms:
                if not dry_run:
                    p.unlink()
                deleted.append(rp)
            else:
                kept_recent.append(rp)
        blooms_deleted: list[str] = []
        if deleted and not dry_run:
            from .bloom_index import sweep_stale_sidecars

            blooms_deleted = sweep_stale_sidecars(self.root)
        return {
            "deleted": deleted,
            "kept_recent": kept_recent,
            "blooms_deleted": blooms_deleted,
            "live": len(live),
            "dry_run": dry_run,
        }

    # -- reads -------------------------------------------------------------
    def capabilities(self) -> Capability:
        cap = Capability.parquet()
        cap.position_enforced = True  # version pin IS the position
        return cap

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_ms: int | None = None,
        _files: list[str] | None = None,
    ) -> DataFrame:
        if version is None:
            version = (
                self.version_as_of(as_of_ms) if as_of_ms is not None else self.current_version()
            )
        pairs = self.live_files_with_dvs(version)
        if _files is not None:
            keep = set(_files)
            pairs = [(p, dv) for p, dv in pairs if p in keep]
        if not pairs:
            if _files is not None:
                # every file pruned: empty result with the table schema
                schema = self._logical_schema(version)
                if schema is not None:
                    return spark.createDataFrame([], schema)
            raise DeltaError(f"version {version} has no live data files")
        files = [p for p, _dv in pairs]
        dvs = [(p, dv) for p, dv in pairs if dv]
        if not dvs:
            return self._read_files(spark, files, version)
        schema, fid = self._read_schema_for(version)
        if fid:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        df = self._read_with_dvs(
            spark,
            files,
            dvs,
            read_schema=schema,
            base_path=str(self.root) if self.partition_columns(version) else None,
        )
        # name-mode mapped tables: physical parquet names -> logical
        # schema names (DVs key only on _metadata, so they compose;
        # id mode already read under the logical schema)
        df = self._apply_column_mapping(df, version)
        return self._finish_partitioned(df, version)

    def _read_with_dvs(
        self,
        spark: SparkSession,
        files: list[str],
        dvs: list[tuple[str, dict]],
        read_schema=None,
        base_path: str | None = None,
    ) -> DataFrame:
        """Merge-on-read DV application: descriptors (driver metadata —
        a few ints + a path each) are DISTRIBUTED and decoded
        executor-side into (file, position) rows, then anti-joined
        against parquet `_metadata.row_index` — the same broadcast
        anti-join shape as Iceberg positional deletes; row data never
        moves through the driver, and files without a DV carry no
        join-side rows at all."""
        import json as _json

        import pandas as pd

        from pyspark.sql import functions as F

        from .delta_dv import decode_descriptor

        root = str(self.root)

        def decode(batches):
            for pdf in batches:
                for path, desc_js in zip(pdf["path"], pdf["desc"]):
                    pos = decode_descriptor(_json.loads(desc_js), root)
                    yield pd.DataFrame({"_dv_file": path, "_dv_pos": pos})

        desc_df = spark.createDataFrame(
            [(p, _json.dumps(d)) for p, d in dvs], "path string, desc string"
        ).repartition(len(dvs))
        pos_df = desc_df.mapInPandas(decode, schema="_dv_file string, _dv_pos long")
        # DV descriptors key on raw resolved paths: the scan side must
        # use the same file key, or DV'd files whose names need URI
        # escaping miss the anti-join and deleted rows reappear
        norm = scan_file_key()
        # collision-proof internal key names: withColumn("_file") would
        # silently overwrite (then drop) user columns of that name
        fkey, pkey = "__cdf_dv_file", "__cdf_dv_pos"
        reader = spark.read
        if read_schema is not None:  # declared-schema read (id-mode
            # field-id resolution / physical name-mode schema /
            # evolution null-fill — caller sets the fieldId conf)
            reader = reader.schema(read_schema)
        if base_path is not None:  # partitioned: reconstitute hive cols
            reader = reader.option("basePath", base_path)
        df = (
            reader.parquet(*files)
            .withColumn(fkey, norm)
            .withColumn(pkey, F.col("_metadata.row_index"))
        )
        out = df.join(
            F.broadcast(pos_df),
            (df[fkey] == pos_df["_dv_file"]) & (df[pkey] == pos_df["_dv_pos"]),
            "left_anti",
        )
        return out.drop(fkey, pkey)

    def build_bloom_index(
        self, spark: SparkSession, col: str, version: int | None = None
    ) -> dict:
        """Build/refresh the per-file bloom index of `col` for the
        live files of `version` (default current) — the Delta
        bloom-filter-index analog (`_bloom_index/` sidecars) that
        `scan` consults for equality data skipping. Incremental: files
        already indexed are skipped, so running this after each commit
        costs one pass over the NEW files only."""
        from .bloom_index import build_bloom_index

        if version is None:
            version = self.current_version()
        files = [self._resolve(p) for p in self.live_add_actions(version)]
        return build_bloom_index(spark, self.root, col, files)

    def scan(
        self,
        spark: SparkSession,
        request: ScanRequest,
        version: int | None = None,
        as_of_ms: int | None = None,
    ) -> tuple[DataFrame, ScanPlan]:
        """Negotiated scan against a pinned version (same pushdown
        contract as the Iceberg/SnapshotTable readers). Partitioned
        tables prune files by their add-action partitionValues before
        reading — tri-state (undecidable keeps the file; every
        predicate re-applies below), same discipline as the Hudi and
        catalog readers."""
        plan = negotiate(request, self.capabilities())
        if version is None and as_of_ms is not None:
            version = self.version_as_of(as_of_ms)
        if version is None:
            version = self.current_version()
        kept_files = None
        pcols = self.partition_columns(version)
        if request.predicates:
            from ..plans.scan import PartitionPlan as _PP
            from .catalog import _eval_on_values
            from .iceberg import _file_can_match

            schema = self._logical_schema(version)
            types_by_name = {f.name: f.dataType for f in (schema.fields if schema else [])}
            actions = self.live_add_actions(version)
            total = len(actions)
            part_pruned = 0
            stats_pruned = 0
            bloom_pruned = 0
            # BLOOM DATA SKIPPING (point lookups): per-file bloom
            # sidecars under _bloom_index/ prune equality probes on
            # high-cardinality columns whose min/max spans every file
            # — the Delta bloom-filter-index analog. Missing/partial
            # index only widens the scan (tri-state, like stats).
            from .bloom_index import BloomProbe, bloom_can_match, indexed_columns

            _bcols = indexed_columns(self.root)
            _probe = BloomProbe(self.root, _bcols) if _bcols else None
            kept_files = []
            for stored, add in sorted(actions.items()):
                pv = add.get("partitionValues") or {}
                if pcols:
                    values = {}
                    for c in pcols:
                        raw = pv.get(c)
                        if raw is None:
                            continue
                        values[c] = _typed_partition_value(raw, types_by_name.get(c))
                    if values and any(
                        _eval_on_values(q, values) is False for q in request.predicates
                    ):
                        part_pruned += 1
                        continue
                # DATA SKIPPING: per-file min/max from add.stats, the
                # same tri-state bounds check the Iceberg manifests get
                # — only a provable no-match prunes; files without
                # stats (or with a DV, which can only SHRINK the true
                # range below the recorded bounds — still safe) keep
                # their recorded bounds semantics.
                st = add.get("stats")
                if st:
                    try:
                        s = json.loads(st)
                        minv, maxv = s.get("minValues"), s.get("maxValues")
                    except (ValueError, TypeError):
                        minv = maxv = None
                    if minv and maxv:
                        bounds = {
                            c: (minv[c], maxv[c]) for c in minv if c in maxv
                        }
                        if any(
                            _file_can_match(q, bounds) is False
                            for q in request.predicates
                        ):
                            stats_pruned += 1
                            continue
                if _probe is not None and any(
                    bloom_can_match(q, _probe, stored) is False
                    for q in request.predicates
                ):
                    bloom_pruned += 1
                    continue
                kept_files.append(self._resolve(stored))
            plan.partitions = _PP(
                kind="files",
                units=[{"path": p} for p in kept_files],
                meta={
                    "files_total": total,
                    "files_kept": len(kept_files),
                    "files_pruned": total - len(kept_files),
                    "files_pruned_by_partition": part_pruned,
                    "files_pruned_by_stats": stats_pruned,
                    "files_pruned_by_bloom": bloom_pruned,
                    "version": version,
                },
            )
        df = self.read(spark, version=version, _files=kept_files)
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

    def changes_since(
        self, spark: SparkSession, position: TableSnapshotPosition | None
    ) -> tuple[DataFrame | None, TableSnapshotPosition]:
        """Rows in files ADDED by versions strictly after the position.
        A version containing data-changing removes (overwrite, delete,
        compaction with dataChange=true) resets consumption to a full
        re-read of current — previously-delivered rows may be gone."""
        cur = self.current_version()
        new_pos = TableSnapshotPosition(snapshot_id=cur)
        if position is None:
            # first consumption is the full current state — enumerating
            # added files across history both misses log-cleaned commits
            # and double-counts files later removed
            return self.read(spark, version=cur), new_pos
        seen = int(position.snapshot_id)
        if seen == cur:
            return None, new_pos
        newer = [v for v in self.versions() if v > seen]
        if set(range(seen + 1, cur + 1)) - set(newer):
            # log cleaning removed commits between the checkpoint and
            # the consumer's position: per-version adds cannot be
            # enumerated — reset to a full read of current
            return self.read(spark, version=cur), new_pos
        if any(self.has_removes(v) for v in newer):
            return self.read(spark, version=cur), new_pos
        # dataChange=false adds are maintenance rewrites (OPTIMIZE):
        # the rows were already delivered under their old files, so a
        # consumer must NOT see them again
        files = [f for v in newer for f in self.added_files(v, data_change_only=True)]
        if not files:
            return None, new_pos
        return self._read_files(spark, files, cur), new_pos


# ---------------------------------------------------------------------------
# fixture writer (spec-shaped layout)


class DeltaFixtureWriter:
    """Builds a Delta-layout table commit by commit: numbered JSON-lines
    commits with metaData/add/remove/commitInfo actions and immutable
    parquet data files — the same names and structure `DeltaTable`
    reads (and that delta-rs / Spark's Delta reader would accept for
    the actions emitted here)."""

    def __init__(
        self,
        root: str | Path,
        table_id: str | None = None,
        checkpoint_interval: int | None = None,
        column_mapping: str = "none",
        partition_by: list[str] | None = None,
        change_data_feed: bool = False,
    ):
        """`column_mapping="name"` writes a NAME-mode column-mapped
        table (the default layout of newer Delta writers): data files
        carry physical `col-<uuid>` names, the schemaString carries
        `delta.columnMapping.physicalName`/`.id` per field, and the
        protocol advertises minReaderVersion=2/minWriterVersion=5.
        `column_mapping="id"` additionally stamps parquet FIELD IDS
        into the data files (Spark's fieldId.write path) and sets
        mode=id — readers must resolve by field id, not name."""
        self.root = Path(root)
        (self.root / "_delta_log").mkdir(parents=True, exist_ok=True)
        self.table_id = table_id or str(uuid.uuid4())
        # None = explicit checkpoints only (fixture default); real
        # writers use 10 (DeltaDestination passes it)
        self.checkpoint_interval = checkpoint_interval
        if column_mapping not in ("none", "name", "id"):
            raise DeltaError(f"unsupported column_mapping {column_mapping!r}")
        self.column_mapping = column_mapping
        self._cm: dict[str, str] = {}  # logical -> physical
        # Delta partitioning is identity columns, hive-laid-out; the
        # protocol keys partitionValues by PHYSICAL name under column
        # mapping, which this fixture doesn't model — refuse the combo
        self.partition_by = list(partition_by or [])
        # CHANGE DATA FEED: commits that modify existing rows also
        # write row-level change files under _change_data/ for
        # table_changes() consumers (delta.enableChangeDataFeed)
        self.change_data_feed = bool(change_data_feed)
        # CHECK constraints (delta.constraints.<name> = SQL expr):
        # every data-adding commit must satisfy all of them
        self._constraints: dict[str, str] = {}
        if self.partition_by and column_mapping != "none":
            raise DeltaError("partition_by with column mapping is not supported")
        # resume an existing log: destinations are constructed per run
        # and must continue the version sequence, not fork it
        existing = [
            int(p.stem)
            for p in (self.root / "_delta_log").glob("*.json")
            if p.stem.isdigit()
        ]
        ck = self.root / "_delta_log" / "_last_checkpoint"
        if ck.exists():
            existing.append(int(json.loads(ck.read_text())["version"]))
        self._version = max(existing) if existing else -1
        # Delta's metaData.schemaString IS the Spark StructType JSON;
        # captured from the first DataFrame so commit 0 carries a real
        # schema (real readers reject an empty one)
        self._schema_string: str | None = None
        if self._version >= 0:
            # resuming: pick up the existing schema + mapping so new
            # data files keep the SAME physical names
            md = DeltaTable(self.root).metadata_for_version(self._version)
            if md.get("schemaString"):
                self._schema_string = md["schemaString"]
                if md.get("partitionColumns"):
                    self.partition_by = list(md["partitionColumns"])
                cdf_on = (md.get("configuration") or {}).get("delta.enableChangeDataFeed")
                if str(cdf_on).lower() == "true":
                    self.change_data_feed = True
                for ck, cv in (md.get("configuration") or {}).items():
                    if ck.startswith("delta.constraints."):
                        self._constraints[ck[len("delta.constraints."):]] = str(cv)
                mode = (md.get("configuration") or {}).get("delta.columnMapping.mode", "none")
                if mode in ("name", "id"):
                    self.column_mapping = mode
                    for f in json.loads(self._schema_string).get("fields", []):
                        phys = (f.get("metadata") or {}).get(
                            "delta.columnMapping.physicalName", f["name"]
                        )
                        self._cm[f["name"]] = str(phys)

    def _assign_mapping(self, fields: list[dict], next_id: int) -> int:
        """Assign delta.columnMapping.{id,physicalName} to every named
        field at EVERY depth (struct fields inside structs/arrays/maps
        included) — the shape Spark's Delta writer emits. Returns the
        next free column id."""

        def assign_type(t, nid: int) -> int:
            if isinstance(t, dict):
                k = t.get("type")
                if k == "struct":
                    return assign_fields(t.get("fields", []), nid)
                if k == "array":
                    return assign_type(t.get("elementType"), nid)
                if k == "map":
                    nid = assign_type(t.get("keyType"), nid)
                    return assign_type(t.get("valueType"), nid)
            return nid

        def assign_fields(fs: list[dict], nid: int) -> int:
            for f in fs:
                phys = f"col-{uuid.uuid4().hex[:12]}"
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    "delta.columnMapping.id": nid,
                    "delta.columnMapping.physicalName": phys,
                }
                nid += 1
                nid = assign_type(f.get("type"), nid)
            return nid

        return assign_fields(fields, next_id)

    def _mapped_schema_string(self, df: DataFrame) -> str:
        """schemaString for a column-mapped table: stable physical
        `col-<uuid>` names + numeric field ids on every named field,
        nested struct fields included."""
        schema = json.loads(df.schema.json())
        self._max_cm_id = self._assign_mapping(schema.get("fields", []), 1) - 1
        for f in schema.get("fields", []):
            self._cm[f["name"]] = f["metadata"]["delta.columnMapping.physicalName"]
        return json.dumps(schema)

    def _to_physical(self, df: DataFrame) -> DataFrame:
        if not self._cm:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        with_ids = self.column_mapping == "id"
        by_name = (
            {f["name"]: f for f in json.loads(self._schema_string).get("fields", [])}
            if self._schema_string
            else {}
        )
        cols = []
        metas: list[tuple[str, dict]] = []
        for c in df.columns:
            fjson = by_name.get(c)
            if fjson is None:
                cols.append(F.col(c).alias(self._cm.get(c, c)))
                continue
            pf = _cm_field_json(fjson, rename=True, with_ids=with_ids)
            expr = F.col(c)
            if not isinstance(fjson.get("type"), str):
                # complex column: CAST renames nested fields to their
                # physical names positionally (and, in id mode, the
                # target type embeds nested parquet.field.id metadata
                # that the parquet writer stamps into the files)
                expr = expr.cast(_rename_cast_type(pf))
            cols.append(expr.alias(pf["name"]))
            if with_ids:
                cmid = int(
                    (fjson.get("metadata") or {}).get("delta.columnMapping.id", 0)
                )
                if cmid:
                    metas.append((pf["name"], {"parquet.field.id": cmid}))
        out = df.select(*cols)
        for name, m in metas:
            out = out.withMetadata(name, m)
        return out

    def _maybe_widen_schema_from_parquet(self, path: str) -> dict | None:
        """Segment-copy twin of :meth:`_maybe_widen_schema` — the
        destination's append_files/replace_files hand over finished
        parquet segments, so the incoming schema comes from the first
        footer. Without this the declared schemaString silently DROPS
        any widened column: the commit lands the data, but the
        metaData (which drives every read) never learns the column
        exists — a silent-column-loss defect, not a refusal."""
        if self._schema_string is None:
            return None
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        incoming = json.loads(from_arrow_schema(pq.read_schema(str(path))).json())
        return self._widen_from_fields(incoming.get("fields", []))

    def _maybe_widen_schema(self, df: DataFrame) -> dict | None:
        """Append-time schema evolution: unseen df columns append to
        the schemaString (mapped tables also assign a physical name +
        column id), returned as a metaData action that rides the SAME
        commit — real Delta's ADD COLUMNS shape, so the declared
        schema never goes stale behind the data files."""
        if self._schema_string is None:
            return None
        return self._widen_from_fields(json.loads(df.schema.json())["fields"])

    def _widen_from_fields(self, incoming_fields: list[dict]) -> dict | None:
        schema = json.loads(self._schema_string)
        declared = {f["name"]: f for f in schema.get("fields", [])}
        # evolution here is ADD-COLUMN only: a changed type on an
        # existing column is not a widening — committing the file
        # anyway would leave data the declared schema cannot read.
        # Comparison is STRUCTURAL: declared nested fields carry
        # column-mapping metadata the incoming df schema lacks.
        def _shape(t):
            if isinstance(t, dict):
                if t.get("type") == "struct":
                    return (
                        "struct",
                        tuple(
                            (f["name"], _shape(f.get("type")), bool(f.get("nullable", True)))
                            for f in t.get("fields", [])
                        ),
                    )
                if t.get("type") == "array":
                    return ("array", _shape(t.get("elementType")))
                if t.get("type") == "map":
                    return ("map", _shape(t.get("keyType")), _shape(t.get("valueType")))
            return t

        for f in incoming_fields:
            d = declared.get(f["name"])
            if d is not None and _shape(d.get("type")) != _shape(f.get("type")):
                raise DeltaError(
                    f"type change on column {f['name']!r} "
                    f"({d.get('type')} -> {f.get('type')}) is not a "
                    "schema widening — cast the batch or add a new column"
                )
        new = [f for f in incoming_fields if f["name"] not in declared]
        if not new:
            return None
        def _scan_max(t, cur: int) -> int:
            if isinstance(t, dict):
                if t.get("type") == "struct":
                    for f in t.get("fields", []):
                        cur = max(
                            cur,
                            int(
                                (f.get("metadata") or {}).get(
                                    "delta.columnMapping.id", 0
                                )
                            ),
                        )
                        cur = _scan_max(f.get("type"), cur)
                elif t.get("type") == "array":
                    cur = _scan_max(t.get("elementType"), cur)
                elif t.get("type") == "map":
                    cur = _scan_max(t.get("keyType"), cur)
                    cur = _scan_max(t.get("valueType"), cur)
            return cur

        max_id = _scan_max({"type": "struct", "fields": schema.get("fields", [])}, 0)
        if self.column_mapping in ("name", "id"):
            max_id = self._assign_mapping(new, max_id + 1) - 1
            for f in new:
                self._cm[f["name"]] = f["metadata"]["delta.columnMapping.physicalName"]
        schema["fields"].extend(new)
        self._schema_string = json.dumps(schema)
        conf = (
            {
                "delta.columnMapping.mode": self.column_mapping,
                "delta.columnMapping.maxColumnId": str(max_id),
            }
            if self.column_mapping in ("name", "id")
            else {}
        )
        # the widening metaData REPLACES the table configuration —
        # carry every flag (CDF, CHECK constraints) or they silently
        # turn off on any schema-evolving append
        conf.update(self._conf_extras())
        return {
            "metaData": {
                "id": self.table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": self._schema_string,
                "partitionColumns": list(self.partition_by),
                "configuration": conf,
            }
        }

    def _conf_extras(self) -> dict:
        """Table configuration that must ride through EVERY metaData
        rewrite (initial commit, schema widening, rename, constraint
        changes): a metaData action REPLACES the configuration, so any
        builder that forgets a flag silently disables the feature."""
        extras: dict[str, str] = {}
        if self.change_data_feed:
            extras["delta.enableChangeDataFeed"] = "true"
        for cname, cexpr in sorted(self._constraints.items()):
            extras[f"delta.constraints.{cname}"] = cexpr
        return extras

    def _enforce_constraints(self, df: DataFrame, what: str) -> None:
        """Writer-side CHECK enforcement (Delta protocol: writers at
        minWriterVersion>=3 MUST validate delta.constraints.*): refuse
        the commit if any batch row violates any constraint. One
        short-circuiting probe per constraint (limit 1) — fixture-scale
        batches; real Delta folds the invariant check into the write
        job itself."""
        from pyspark.sql import functions as F

        for cname, cexpr in sorted(self._constraints.items()):
            bad = df.filter(~F.expr(cexpr).eqNullSafe(F.lit(True))).limit(1).collect()
            if bad:
                raise DeltaError(
                    f"{what} violates CHECK constraint {cname!r} ({cexpr}): "
                    f"e.g. {bad[0].asDict()}"
                )

    def _constraints_meta_commit(self, operation: str, timestamp_ms: int | None) -> int:
        meta = {
            "metaData": {
                "id": self.table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": self._schema_string,
                "partitionColumns": list(self.partition_by),
                "configuration": {
                    **(
                        {
                            "delta.columnMapping.mode": self.column_mapping,
                            "delta.columnMapping.maxColumnId": str(
                                getattr(self, "_max_cm_id", len(self._cm))
                            ),
                        }
                        if self.column_mapping in ("name", "id")
                        else {}
                    ),
                    **self._conf_extras(),
                },
            }
        }
        actions: list[dict] = [meta]
        if self.column_mapping == "none":
            # CHECK constraints are a minWriterVersion-3 feature; the
            # mapping protocol (writer 5) already covers it
            actions.insert(
                0, {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}}
            )
        return self._commit(actions, operation, timestamp_ms)

    def add_check_constraint(
        self,
        spark: SparkSession,
        name: str,
        expr: str,
        timestamp_ms: int | None = None,
    ) -> int:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): EXISTING
        rows must already satisfy the expression (delta.io validates
        with a scan before committing — adding a constraint the data
        violates would make the table unwritable), then the constraint
        rides the configuration as `delta.constraints.<name>` and every
        subsequent data-adding commit is enforced against it."""
        if not name.isidentifier():
            raise DeltaError(f"constraint name {name!r} must be an identifier")
        if name in self._constraints:
            raise DeltaError(f"constraint {name!r} already exists")
        if self._schema_string is None:
            raise DeltaError("nothing committed yet — no schema to constrain")
        t = DeltaTable(self.root)
        if t.live_add_actions(t.current_version()):
            from pyspark.sql import functions as F

            bad = (
                t.read(spark)
                .filter(~F.expr(expr).eqNullSafe(F.lit(True)))
                .limit(1)
                .collect()
            )
            if bad:
                raise DeltaError(
                    f"existing rows violate CHECK {name!r} ({expr}): "
                    f"e.g. {bad[0].asDict()}"
                )
        self._constraints[name] = expr
        try:
            return self._constraints_meta_commit("ADD CONSTRAINT", timestamp_ms)
        except Exception:
            self._constraints.pop(name, None)
            raise

    def drop_check_constraint(self, name: str, timestamp_ms: int | None = None) -> int:
        if name not in self._constraints:
            raise DeltaError(f"no CHECK constraint {name!r}")
        dropped = self._constraints.pop(name)
        try:
            return self._constraints_meta_commit("DROP CONSTRAINT", timestamp_ms)
        except Exception:
            self._constraints[name] = dropped
            raise

    def _write_data(self, df: DataFrame) -> list[dict]:
        import shutil
        import tempfile

        if self._constraints:
            self._enforce_constraints(df, "batch")
        widen = None
        if self._schema_string is None:
            self._schema_string = (
                self._mapped_schema_string(df)
                if self.column_mapping in ("name", "id")
                else df.schema.json()
            )
            for c in self.partition_by:
                if c not in df.columns:
                    raise DeltaError(f"partition column {c!r} not in first commit's schema")
        else:
            widen = self._maybe_widen_schema(df)
        prefix = [widen] if widen else []
        if self.partition_by:
            return prefix + self._write_data_partitioned(df)
        tmp = tempfile.mkdtemp(prefix="delta_commit_")
        df = self._to_physical(df)
        df.write.mode("overwrite").parquet(tmp)
        adds = []
        for p in sorted(Path(tmp).glob("*.parquet")):
            rel = f"part-{uuid.uuid4().hex}.parquet"
            shutil.move(str(p), str(self.root / rel))
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "size": (self.root / rel).stat().st_size,
                        "partitionValues": {},
                        "modificationTime": int(time.time() * 1000),
                        "dataChange": True,
                    }
                }
            )
        shutil.rmtree(tmp, ignore_errors=True)
        return prefix + adds

    def _write_data_partitioned(self, df: DataFrame) -> list[dict]:
        """Hive-partitioned add actions: ONE distributed partitionBy
        write (O(partitions) driver walk), files under `col=value/`
        dirs with the partition columns OMITTED from the parquet (the
        protocol stores them only as add.partitionValues strings — the
        layout real Delta writers produce)."""
        import shutil
        from urllib.parse import quote

        from .partitioned_write import HIVE_NULL, hive_partitioned_write

        tmp_root, parts = hive_partitioned_write(
            df, self.partition_by, drop_partition_cols=True, max_partitions=10_000
        )
        adds = []
        now_ms = int(time.time() * 1000)
        for raw, files in parts:
            pv = {c: raw[c] for c in self.partition_by}
            segs = [
                f"{c}={quote(str(pv[c]), safe='') if pv[c] is not None else HIVE_NULL}"
                for c in self.partition_by
            ]
            part_dir = "/".join(segs)
            (self.root / part_dir).mkdir(parents=True, exist_ok=True)
            for p in files:
                rel = f"{part_dir}/part-{uuid.uuid4().hex}.parquet"
                shutil.move(str(p), str(self.root / rel))
                adds.append(
                    {
                        "add": {
                            "path": rel,
                            "size": (self.root / rel).stat().st_size,
                            "partitionValues": {
                                c: (None if v is None else str(v)) for c, v in pv.items()
                            },
                            "modificationTime": now_ms,
                            "dataChange": True,
                        }
                    }
                )
        shutil.rmtree(tmp_root, ignore_errors=True)
        return adds

    def _commit(self, actions: list[dict], operation: str, timestamp_ms: int | None) -> int:
        # stamp add.stats (numRecords) from the parquet footer when the
        # writer path didn't — one O(files-in-commit) metadata pass that
        # makes metadata_count() exact for every table this writer
        # produces (real Delta writers always emit stats)
        for a in actions:
            add = a.get("add")
            if add is not None and "stats" not in add:
                try:
                    add["stats"] = json.dumps(_footer_stats(self.root / add["path"]))
                except Exception:
                    pass  # statless add: metadata_count degrades to None
        self._version += 1
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        lines = [
            json.dumps({"commitInfo": {"timestamp": ts, "operation": operation}}),
        ]
        if self._version == 0:
            if self.column_mapping in ("name", "id"):
                proto = {"minReaderVersion": 2, "minWriterVersion": 5}
                conf = {
                    "delta.columnMapping.mode": self.column_mapping,
                    "delta.columnMapping.maxColumnId": str(
                        getattr(self, "_max_cm_id", len(self._cm))
                    ),
                }
            else:
                proto = {"minReaderVersion": 1, "minWriterVersion": 2}
                conf = {}
            conf.update(self._conf_extras())
            lines.append(json.dumps({"protocol": proto}))
            lines.append(
                json.dumps(
                    {
                        "metaData": {
                            "id": self.table_id,
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": self._schema_string or "{}",
                            "partitionColumns": list(self.partition_by),
                            "configuration": conf,
                        }
                    }
                )
            )
        lines.extend(json.dumps(a) for a in actions)
        path = self.root / "_delta_log" / f"{self._version:020d}.json"
        # optimistic concurrency: the numbered commit file IS the CAS
        # token (Delta's put-if-absent contract — on object stores the
        # log store provides it; locally O_EXCL does). A concurrent
        # writer that claimed this version first makes the loser fail
        # loudly instead of clobbering the winner's commit.
        try:
            with open(path, "x") as fh:
                fh.write("\n".join(lines) + "\n")
        except FileExistsError:
            self._version -= 1
            raise DeltaError(
                f"concurrent commit detected: version {path.name} already exists — "
                "reload the table and retry the commit"
            ) from None
        if (
            self.checkpoint_interval
            and self._version > 0
            and self._version % self.checkpoint_interval == 0
        ):
            # the every-N-commits checkpoint real Delta writers emit so
            # readers replay O(recent), not O(history)
            self.checkpoint()
        return self._version

    def append(self, df: DataFrame, timestamp_ms: int | None = None) -> int:
        return self._commit(self._write_data(df), "WRITE", timestamp_ms)

    def declare_schema(self, schema_string: str) -> None:
        """Declare the table's schemaString up-front — the translation
        path's entry point: a partitioned source's data files omit the
        partition columns, so the full logical schema cannot be
        inferred from any parquet footer. Must run before the first
        commit fixes the schema."""
        if self._schema_string is not None:
            raise DeltaError("declare_schema requires a table with no schema yet")
        json.loads(schema_string)  # must be valid schemaString JSON
        self._schema_string = schema_string

    def link_files(
        self,
        paths: list[str],
        timestamp_ms: int | None = None,
        partition_values: list[dict] | None = None,
    ) -> int:
        """Append commit that LINKS existing parquet files IN PLACE —
        add actions carry the source files' ABSOLUTE paths (the
        protocol allows absolute URIs; shallow clones use exactly
        this), nothing is copied. The XTable / UniForm translation
        primitive in the Iceberg→Delta direction: the linked files'
        lifecycle stays owned by the source table (vacuum there, not
        here). Refused under column mapping (linked files carry the
        source table's physical names, not this log's).

        Partitioned linking: `partition_values` carries one dict per
        path mapping partition column -> protocol STRING value (or
        None for null) — it lands verbatim as add.partitionValues,
        the log's authoritative record, from which the reader
        reconstitutes the columns (linked files live in the SOURCE
        table's layout, so hive-directory inference cannot apply).
        Requires `declare_schema` or a prior schema that includes the
        partition columns."""
        import pyarrow.parquet as pq

        if not paths:
            raise DeltaError("link_files requires at least one parquet file")
        if self.column_mapping != "none":
            raise DeltaError("link_files under column mapping is not supported")
        if self.partition_by:
            if partition_values is None or len(partition_values) != len(paths):
                raise DeltaError(
                    "partitioned link_files requires one partition_values "
                    "dict per path"
                )
            declared = (
                {f["name"] for f in json.loads(self._schema_string).get("fields", [])}
                if self._schema_string
                else set()
            )
            missing = [c for c in self.partition_by if c not in declared]
            if missing:
                raise DeltaError(
                    f"partition columns {missing} absent from the declared "
                    "schema — declare_schema() the full logical schema first "
                    "(linked files do not carry partition columns)"
                )
        elif partition_values:
            raise DeltaError("partition_values given for an unpartitioned table")
        if self._schema_string is None:
            from pyspark.sql.pandas.types import from_arrow_schema

            self._schema_string = from_arrow_schema(
                pq.read_schema(paths[0])
            ).json()
        adds = []
        for i, src in enumerate(paths):
            p = Path(src).resolve()
            md = pq.read_metadata(p)
            pv = {}
            if partition_values is not None:
                pv = {
                    c: (None if v is None else str(v))
                    for c, v in (partition_values[i] or {}).items()
                }
            adds.append(
                {
                    "add": {
                        "path": str(p),
                        "size": p.stat().st_size,
                        "partitionValues": pv,
                        "modificationTime": int(time.time() * 1000),
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": md.num_rows}),
                    }
                }
            )
        return self._commit(adds, "WRITE", timestamp_ms)

    def replace_with_links(
        self,
        paths: list[str],
        timestamp_ms: int | None = None,
        partition_values: list[dict] | None = None,
    ) -> int:
        """Replace commit whose NEW live set LINKS existing parquet in
        place (absolute-path adds, nothing copied) — the XTable sync
        primitive for a source overwrite commit in the →Delta
        direction. Removes are recorded with each live add's path
        EXACTLY as the log recorded it (the live-set replay keys on
        the raw string, and linked tables carry absolute paths).
        `partition_values` as in `link_files`."""
        import pyarrow.parquet as pq

        if not paths:
            raise DeltaError("replace_with_links requires at least one parquet file")
        if self.column_mapping != "none":
            raise DeltaError("replace_with_links under column mapping is not supported")
        removes = []
        if self._version >= 0:
            now_ms = int(time.time() * 1000)
            for raw_path in DeltaTable(self.root).live_add_actions(self._version):
                removes.append(
                    {
                        "remove": {
                            "path": raw_path,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
        if self._schema_string is None:
            from pyspark.sql.pandas.types import from_arrow_schema

            self._schema_string = from_arrow_schema(pq.read_schema(paths[0])).json()
        adds = []
        for i, src in enumerate(paths):
            p = Path(src).resolve()
            md = pq.read_metadata(p)
            pv = {}
            if partition_values is not None:
                pv = {
                    c: (None if v is None else str(v))
                    for c, v in (partition_values[i] or {}).items()
                }
            adds.append(
                {
                    "add": {
                        "path": str(p),
                        "size": p.stat().st_size,
                        "partitionValues": pv,
                        "modificationTime": int(time.time() * 1000),
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": md.num_rows}),
                    }
                }
            )
        return self._commit(removes + adds, "WRITE", timestamp_ms)

    def replace(self, df: DataFrame, timestamp_ms: int | None = None) -> int:
        """Replace commit from a DataFrame: remove every live file +
        the new data's adds in ONE commit — the partition-aware
        sibling of `replace_files` (prior files stay on disk for time
        travel)."""
        import os as _os

        removes = []
        if self._version >= 0:
            now_ms = int(time.time() * 1000)
            for f in DeltaTable(self.root).files_for_version(self._version):
                removes.append(
                    {
                        "remove": {
                            "path": _os.path.relpath(f, str(self.root)),
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
        return self._commit(removes + self._write_data(df), "WRITE", timestamp_ms)

    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        timestamp_ms: int | None = None,
        inline: bool = False,
        max_rows: int = 100_000,
    ) -> int:
        """DELETE via deletion vectors — no data-file rewrite: victim
        (file, row_index) pairs come from a parquet `_metadata` scan of
        the live files; each touched file gets remove + re-add with a
        DV descriptor (merged with its existing DV — the protocol's
        replace-on-attach rule), and the commit carries the protocol
        upgrade to readerFeatures=[deletionVectors]. Victim positions
        are collected driver-side, capped at `max_rows` per call (DV
        deletes are point/predicate deletes by design; bulk rewrites
        belong in replace_files — same fixture boundary as the other
        driver-side writers)."""
        import uuid as _uuid

        from pyspark.sql import functions as F

        from .delta_dv import (
            decode_descriptor,
            dv_file_name,
            encode_inline,
            encode_uuid_path,
            serialize_dv_blob,
            write_dv_file,
        )

        t = DeltaTable(self.root)
        adds = t.live_adds(self._version)
        pairs = [(p, dv) for p, dv, _pv in adds]
        pv_of = {p: pv for p, _dv, pv in adds}
        # victim keys line up with the raw resolved paths DV
        # descriptors use; internal names are collision-proof against
        # user columns (filter(condition) still sees every user column)
        norm = scan_file_key()
        fkey, pkey = "__cdf_dv_file", "__cdf_dv_pos"
        reader = spark.read
        if self.partition_by:
            # partitioned layout: basePath reconstitutes the hive-dir
            # partition columns so `condition` can reference them
            reader = reader.option("basePath", str(self.root))
        staged = (
            reader.parquet(*[p for p, _ in pairs])
            .withColumn(fkey, norm)
            .withColumn(pkey, F.col("_metadata.row_index"))
        )
        if self._cm:
            # column-mapped table: the files carry physical names but
            # `condition` is written against logical names; complex
            # columns rebuild their nested logical names via cast
            from pyspark.sql import types as T

            by_name = {
                f["name"]: f
                for f in json.loads(self._schema_string or "{}").get("fields", [])
            }
            sel = []
            for l, p in self._cm.items():
                expr = F.col(p)
                fjson = by_name.get(l)
                if fjson is not None and not isinstance(fjson.get("type"), str):
                    expr = expr.cast(_rename_cast_type(fjson))
                sel.append(expr.alias(l))
            staged = staged.select(*sel, fkey, pkey)
        victims = staged.filter(condition).select(fkey, pkey)
        rows = victims.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise DeltaError(
                f"delete_where matched more than the {max_rows}-row driver-side "
                "cap — use replace_files for bulk rewrites"
            )
        by_file: dict[str, list[int]] = {}
        for r in rows:
            by_file.setdefault(r[fkey], []).append(int(r[pkey]))
        if not by_file:
            return self._commit([], "DELETE", timestamp_ms)
        dv_of = dict(pairs)
        feats = ["deletionVectors"] + (["columnMapping"] if self._cm else [])
        actions: list[dict] = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": feats,
                    "writerFeatures": feats,
                }
            }
        ]
        blobs: list[tuple[str, bytes, int]] = []  # (file, blob, cardinality)
        for f, new_pos in sorted(by_file.items()):
            old = dv_of.get(f)
            merged = sorted(set(new_pos) | set(decode_descriptor(old, self.root) if old else []))
            blobs.append((f, serialize_dv_blob(merged), len(merged)))
        descs: dict[str, dict] = {}
        if inline:
            for f, blob, card in blobs:
                descs[f] = {
                    "storageType": "i",
                    "pathOrInlineDv": encode_inline(blob),
                    "sizeInBytes": len(blob),
                    "cardinality": card,
                }
        else:
            uid = _uuid.uuid4()
            spans = write_dv_file(self.root / dv_file_name(uid), [b for _, b, _ in blobs])
            for (f, blob, card), (off, size) in zip(blobs, spans):
                descs[f] = {
                    "storageType": "u",
                    "pathOrInlineDv": encode_uuid_path(uid),
                    "offset": off,
                    "sizeInBytes": size,
                    "cardinality": card,
                }
        now_ms = int(time.time() * 1000)
        import os as _os

        for f in sorted(by_file):
            rel = _os.path.relpath(f, str(self.root))
            actions.append(
                {"remove": {"path": rel, "deletionTimestamp": now_ms, "dataChange": True}}
            )
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "size": Path(f).stat().st_size,
                        "partitionValues": pv_of.get(f, {}),
                        "modificationTime": now_ms,
                        "dataChange": True,
                        "deletionVector": descs[f],
                    }
                }
            )
        if self.change_data_feed:
            # row-level change file: the deleted rows with their full
            # (logical) columns, taken from the RESOLVED state so rows
            # an earlier DV already deleted don't re-appear as deletes
            cdc_df = t.read(spark).filter(condition).withColumn(
                "_change_type", F.lit("delete")
            )
            actions.extend(self._cdc_actions(cdc_df))
        return self._commit(actions, "DELETE", timestamp_ms)

    def upsert_files_dv(
        self,
        spark: SparkSession,
        paths: list[str],
        merge_keys: list[str],
        timestamp_ms: int | None = None,
    ) -> int:
        """MERGE-ON-READ upsert in ONE commit: current rows matching
        the batch's keys are removed via per-file DELETION VECTORS and
        the batch's segments are appended by COPY — no data-file
        rewrite (a 0.1%-of-keys batch moves descriptors + the batch,
        not the table; the Delta twin of IcebergDestination's
        equality-delete upsert).

        Scale posture: victim (file, row_index) pairs come from a
        distributed `_metadata` scan semi-joined against the
        broadcast key set; per-file DV blobs are built and written
        EXECUTOR-side (`groupBy(file).applyInPandas`, one DV bin per
        touched file), so only O(touched files) descriptor rows ever
        reach the driver — row positions never do."""
        import json as _json
        import uuid as _uuid2

        from pyspark.sql import functions as F

        from .delta_dv import (
            decode_descriptor,
            dv_file_name,
            encode_uuid_path,
            serialize_dv_blob,
            write_dv_file,
        )

        if not paths:
            raise DeltaError("upsert_files_dv requires at least one segment")
        if self._constraints:
            # MERGE batches add rows too — same CHECK discipline as
            # append (segment-copy commits would otherwise bypass it)
            self._enforce_constraints(spark.read.parquet(*paths), "merge batch")
        # column-mapped tables: the victim scan reads PHYSICAL files,
        # so the key match runs under physical names (the _cm map),
        # and the batch lands through the physical-writing path
        # instead of segment copy — logical segments never touch disk
        # with logical names
        if self._version < 0:
            # first commit: nothing to delete — plain append (the
            # partition-splitting / physical-name write when a spec or
            # column mapping is declared)
            if self.partition_by or self.column_mapping in ("name", "id"):
                return self._commit(
                    self._write_data(spark.read.parquet(*paths)), "MERGE", timestamp_ms
                )
            return self._commit(self._copy_adds(paths), "MERGE", timestamp_ms)

        t = DeltaTable(self.root)
        adds3 = t.live_adds(self._version)
        pairs = [(p, dv) for p, dv, _pv in adds3]
        pv_of = {p: pv for p, _dv, pv in adds3}
        keys = spark.read.parquet(*paths).select(*merge_keys).dropDuplicates()
        norm = scan_file_key()
        fkey, pkey = "__cdf_dv_file", "__cdf_dv_pos"
        # partitioned layouts read with basePath so hive partition
        # columns reconstitute — merge keys MAY include them, and the
        # victim positions stay per-physical-file via _metadata
        reader = spark.read
        if self.partition_by:
            reader = reader.option("basePath", str(self.root))
        cur = (
            reader.parquet(*[p for p, _ in pairs])
            .withColumn(fkey, norm)
            .withColumn(pkey, F.col("_metadata.row_index"))
        )
        cond = None
        for k in merge_keys:
            phys = self._cm.get(k, k)  # physical name under column mapping
            if phys not in cur.columns:
                raise DeltaError(f"merge key {k!r} (physical {phys!r}) not in table files")
            c = cur[phys].eqNullSafe(keys[k])
            cond = c if cond is None else (cond & c)
        victims = cur.join(F.broadcast(keys), on=cond, how="left_semi").select(fkey, pkey)

        root = str(self.root)
        dv_of_js = {f: _json.dumps(d) for f, d in pairs if d}

        def build_dv(key_tuple, pdf):
            import pandas as pd

            f = key_tuple[0]
            positions = set(int(p) for p in pdf[pkey])
            old = dv_of_js.get(f)
            if old:
                positions |= set(decode_descriptor(_json.loads(old), root))
            blob = serialize_dv_blob(sorted(positions))
            uid = _uuid2.uuid4()
            ((off, size),) = write_dv_file(Path(root) / dv_file_name(uid), [blob])
            return pd.DataFrame(
                [
                    {
                        "file": f,
                        "uuid": encode_uuid_path(uid),
                        "offset": int(off),
                        "size": int(size),
                        "cardinality": len(positions),
                    }
                ]
            )

        desc_rows = (
            victims.groupBy(fkey)
            .applyInPandas(
                build_dv, "file string, uuid string, offset long, size long, cardinality long"
            )
            .collect()
        )
        feats = ["deletionVectors"]
        actions: list[dict] = []
        if desc_rows:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": feats,
                        "writerFeatures": feats,
                    }
                }
            )
        now_ms = int(time.time() * 1000)
        root_resolved = self.root.resolve()
        for r in sorted(desc_rows, key=lambda r: r["file"]):
            # stored relative path (partition dirs included) + the
            # original add's partitionValues ride the re-add, so
            # pruning keeps working on the DV'd file
            rel = Path(r["file"]).resolve().relative_to(root_resolved).as_posix()
            desc = {
                "storageType": "u",
                "pathOrInlineDv": r["uuid"],
                "offset": int(r["offset"]),
                "sizeInBytes": int(r["size"]),
                "cardinality": int(r["cardinality"]),
            }
            actions.append(
                {"remove": {"path": rel, "deletionTimestamp": now_ms, "dataChange": True}}
            )
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "size": Path(r["file"]).stat().st_size,
                        "partitionValues": pv_of.get(r["file"], {}),
                        "modificationTime": now_ms,
                        "dataChange": True,
                        "deletionVector": desc,
                    }
                }
            )
        if self.change_data_feed:
            # CDC classification: existing rows matching batch keys are
            # update_preimage; batch rows whose key existed are
            # update_postimage; the rest are inserts. Victim rows come
            # from the same basePath scan (full columns, logical names
            # restored for mapped tables).
            # classify against the RESOLVED current state (DVs
            # applied, logical names): rows already deleted must not
            # re-appear as preimages, and a batch row whose key only
            # ever existed as a deleted row is an INSERT
            resolved = t.read(spark)
            pre = resolved.join(F.broadcast(keys), on=[
                resolved[k].eqNullSafe(keys[k]) for k in merge_keys
            ], how="left_semi").withColumn(
                "_change_type", F.lit("update_preimage")
            )
            cur_keys = resolved.select(*merge_keys).dropDuplicates()
            batch_df = spark.read.parquet(*paths)
            matched = batch_df.join(F.broadcast(cur_keys), on=merge_keys, how="left_semi")
            fresh = batch_df.join(F.broadcast(cur_keys), on=merge_keys, how="left_anti")
            cdc_df = (
                pre
                .unionByName(matched.withColumn("_change_type", F.lit("update_postimage")))
                .unionByName(fresh.withColumn("_change_type", F.lit("insert")))
            )
            actions.extend(self._cdc_actions(cdc_df))
        if self.partition_by or self._cm:
            # partitioned: segments carry partition columns in-file and
            # need the distributed hive split; column-mapped: segments
            # carry logical names and need the physical rewrite — both
            # go through _write_data rather than segment copy
            batch_df = spark.read.parquet(*paths)
            widen = self._maybe_widen_schema(batch_df)
            if widen:
                actions.insert(0, widen)
            actions.extend(self._write_data(batch_df))
        else:
            # a widened batch must evolve the declared schemaString in
            # THE SAME commit (same rule as append_files) — otherwise
            # the merge lands the data but every reader silently drops
            # the new column
            widen = self._maybe_widen_schema_from_parquet(paths[0]) if paths else None
            if widen:
                actions.insert(0, widen)
            actions.extend(self._copy_adds(paths))
        return self._commit(actions, "MERGE", timestamp_ms)

    def _copy_adds(self, paths: list[str]) -> list[dict]:
        """Add actions from EXISTING canonical parquet files committed
        by COPY — no decode/re-encode (segment-copy posture)."""
        import shutil

        if self.partition_by:
            raise DeltaError(
                "segment-copy commits into a partitioned Delta table are not "
                "supported (segments carry partition columns in-file; the "
                "layout stores them as partitionValues) — append(df) instead"
            )

        if self._schema_string is None and paths:
            # file-copy path (destinations hand over finished segments):
            # recover the logical schema from the first parquet footer
            try:
                import pyarrow.parquet as pq

                from pyspark.sql.pandas.types import from_arrow_schema

                self._schema_string = from_arrow_schema(
                    pq.read_schema(str(paths[0]))
                ).json()
            except Exception:
                pass  # "{}" fallback stands; reads are unaffected
        adds = []
        for src in paths:
            rel = f"part-{uuid.uuid4().hex}.parquet"
            shutil.copy(str(src), str(self.root / rel))
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "size": (self.root / rel).stat().st_size,
                        "partitionValues": {},
                        "modificationTime": int(time.time() * 1000),
                        "dataChange": True,
                    }
                }
            )
        return adds

    def _enforce_constraints_on_segments(self, paths: list[str]) -> None:
        """CHECK enforcement for the segment-COPY commit paths — they
        never build a DataFrame, so without this a constrained table
        written through the destination protocol silently skipped
        validation (found by self-review; append/merge/partitioned
        paths were covered, copies were not)."""
        if not self._constraints or not paths:
            return
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise DeltaError(
                "table carries CHECK constraints but no active SparkSession "
                "is available to validate the segment batch"
            )
        self._enforce_constraints(spark.read.parquet(*paths), "segment batch")

    def append_files(self, paths: list[str], timestamp_ms: int | None = None) -> int:
        self._enforce_constraints_on_segments(paths)
        widen = self._maybe_widen_schema_from_parquet(paths[0]) if paths else None
        actions = ([widen] if widen else []) + self._copy_adds(paths)
        return self._commit(actions, "WRITE", timestamp_ms)

    def replace_files(self, paths: list[str], timestamp_ms: int | None = None) -> int:
        self._enforce_constraints_on_segments(paths)
        widen = self._maybe_widen_schema_from_parquet(paths[0]) if paths else None
        removes = [widen] if widen else []
        if self._version >= 0:
            for f in DeltaTable(self.root).files_for_version(self._version):
                removes.append(
                    {
                        "remove": {
                            "path": str(Path(f).name),
                            "deletionTimestamp": int(time.time() * 1000),
                            "dataChange": True,
                        }
                    }
                )
        return self._commit(removes + self._copy_adds(paths), "WRITE", timestamp_ms)

    def rename_column(self, old: str, new: str, timestamp_ms: int | None = None) -> int:
        """Metadata-only column rename — THE operation column mapping
        exists for: the physical parquet name (`col-<uuid>` / field id)
        never changes, so no data file is touched; only the
        schemaString's logical field name moves, in one metaData
        commit. Reads at earlier versions keep the earlier name
        (metadata is resolved per version), and deletion vectors
        compose (they key on `_metadata`, not names). Same field-id
        discipline as `IcebergFixtureWriter.rename_column`."""
        if self.column_mapping not in ("name", "id"):
            raise DeltaError(
                "rename_column requires a column-mapped table "
                "(column_mapping='name' or 'id') — without mapping the "
                "physical parquet names ARE the logical names"
            )
        if self._schema_string is None:
            raise DeltaError("nothing committed yet — no schema to rename in")
        schema = json.loads(self._schema_string)
        names = [f["name"] for f in schema.get("fields", [])]
        if old not in names:
            raise DeltaError(f"column {old!r} not in schema {names}")
        if new in names:
            raise DeltaError(f"column {new!r} already exists")
        max_id = 0
        for f in schema["fields"]:
            max_id = max(max_id, int((f.get("metadata") or {}).get("delta.columnMapping.id", 0)))
            if f["name"] == old:
                f["name"] = new
        self._schema_string = json.dumps(schema)
        self._cm[new] = self._cm.pop(old)
        conf = {
            "delta.columnMapping.mode": self.column_mapping,
            "delta.columnMapping.maxColumnId": str(max_id),
        }
        # this metaData REPLACES the configuration — carry every flag
        conf.update(self._conf_extras())
        meta = {
            "metaData": {
                "id": self.table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": self._schema_string,
                "partitionColumns": list(self.partition_by),
                "configuration": conf,
            }
        }
        return self._commit([meta], "RENAME COLUMN", timestamp_ms)

    def _cdc_actions(self, df: DataFrame) -> list[dict]:
        """Write a commit's row-level change file under `_change_data/`
        (the Change Data Feed layout): `df` carries the table's LOGICAL
        columns plus `_change_type`. One distributed write; the action
        is `cdc` with dataChange=false (CDC files are derived data —
        snapshot readers skip them, table_changes readers require
        them)."""
        import shutil
        import tempfile

        (self.root / "_change_data").mkdir(exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="delta_cdc_")
        actions: list[dict] = []
        try:
            df.write.mode("overwrite").parquet(tmp)
            for p in sorted(Path(tmp).glob("*.parquet")):
                rel = f"_change_data/cdc-{uuid.uuid4().hex}.parquet"
                shutil.move(str(p), str(self.root / rel))
                actions.append(
                    {
                        "cdc": {
                            "path": rel,
                            "size": (self.root / rel).stat().st_size,
                            "partitionValues": {},
                            "dataChange": False,
                        }
                    }
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return actions

    def restore(
        self,
        version: int,
        timestamp_ms: int | None = None,
        spark: SparkSession | None = None,
    ) -> int:
        """RESTORE TABLE ... TO VERSION AS OF — the bad-commit recovery
        op: ONE new commit whose live set equals the target version's
        (re-adds what current lost, removes what current gained; adds
        carry their original stats and DV descriptors, so the restored
        state is bit-faithful including merge-on-read deletes). History
        is preserved — the undone versions stay in the log and remain
        time-travelable until clean_log/vacuum. Fails loudly if a
        target file was already vacuumed (same constraint as delta.io
        RESTORE).

        CDF-enabled tables additionally emit the RESTORE's row-level
        change set (pass `spark`), so `table_changes` replays straight
        through a restore instead of stranding CDC consumers: rows the
        restore brings back are `insert`, rows it undoes are `delete`
        — the distributed multiset diff of the two snapshots restricted
        to the CHANGED files only (O(changed files), never O(table);
        files live in both versions with identical add actions
        contribute no read and no shuffle). Columns added between the
        two versions null-fill on the target side — exactly how the
        restored state reads back under the current schema."""
        t = DeltaTable(self.root)
        cur = t.current_version()
        if version == cur:
            raise DeltaError(f"already at version {version}")
        target = t.live_add_actions(version)
        current = t.live_add_actions(cur)
        missing = [p for p in target if not Path(t._resolve(p)).exists()]
        if missing:
            raise DeltaError(
                f"cannot restore to version {version}: {len(missing)} data "
                f"file(s) already vacuumed (e.g. {missing[0]!r})"
            )
        now_ms = int(timestamp_ms if timestamp_ms is not None else time.time() * 1000)
        actions: list[dict] = []
        for p, add in sorted(target.items()):
            if current.get(p) != add:
                a = dict(add)
                a["modificationTime"] = now_ms
                a["dataChange"] = True
                actions.append({"add": a})
        for p in sorted(current):
            if p not in target:
                actions.append(
                    {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": True}}
                )
        if not actions:
            raise DeltaError(f"version {version} is identical to current — nothing to restore")
        if self.change_data_feed:
            if spark is None:
                raise DeltaError(
                    "restore on a change-data-feed table must derive the "
                    "restore's row-level changes — pass `spark`"
                )
            actions.extend(
                self._cdc_actions(self._restore_changes(spark, t, version, cur))
            )
        return self._commit(actions, "RESTORE", timestamp_ms)

    def _restore_changes(
        self, spark: SparkSession, t: "DeltaTable", target_v: int, cur_v: int
    ) -> DataFrame:
        """Delegates to :meth:`DeltaTable._restore_changes` — the diff
        now lives on the table so `table_changes` can reuse it for
        in-window overwrite commits (r10)."""
        return t._restore_changes(spark, target_v, cur_v)

    def reorg_purge(
        self,
        spark: SparkSession,
        timestamp_ms: int | None = None,
    ) -> dict:
        """REORG TABLE ... APPLY (PURGE): rewrite ONLY the files
        carrying DELETION VECTORS — regardless of size — materializing
        their surviving rows and dropping the DVs. The merge-on-read
        debt collector: every DV'd file pays its anti-join on every
        read until something folds the deletes in, and at CDC cadence
        the DV'd share of the table only grows. O(DV'd files), one
        commit, dataChange=false on every action (no logical change —
        incremental consumers are NOT invalidated), and the orphaned
        `.bin` files fall to vacuum."""
        import shutil
        import tempfile
        from urllib.parse import quote

        from .partitioned_write import HIVE_NULL

        t = DeltaTable(self.root)
        cur = t.current_version()
        part_cols = t.partition_columns(cur)
        groups: dict[tuple, list[str]] = {}
        n_dv = 0
        for path, dv, pv in t.live_adds(cur):
            if dv is None:
                continue
            n_dv += 1
            groups.setdefault(tuple(sorted((pv or {}).items())), []).append(path)
        result = {"dv_files": n_dv, "rewritten": 0}
        if not groups:
            return result
        now_ms = int(timestamp_ms if timestamp_ms is not None else time.time() * 1000)
        actions: list[dict] = []
        root_resolved = self.root.resolve()
        for key, resolved_paths in sorted(groups.items()):
            # read WITH the DVs applied: the rewrite materializes
            # exactly the surviving rows
            merged = t.read(spark, _files=resolved_paths)
            if part_cols:
                merged = merged.drop(*part_cols)
            merged = self._to_physical(merged)
            pv = dict(key)
            segs = [
                f"{c}={quote(str(pv[c]), safe='') if pv[c] is not None else HIVE_NULL}"
                for c in part_cols
            ]
            part_dir = "/".join(segs)
            if part_dir:
                (self.root / part_dir).mkdir(parents=True, exist_ok=True)
            tmp = tempfile.mkdtemp(prefix="delta_purge_")
            try:
                merged.coalesce(max(1, len(resolved_paths))).write.mode(
                    "overwrite"
                ).parquet(tmp)
                for p in sorted(Path(tmp).glob("*.parquet")):
                    rel = (f"{part_dir}/" if part_dir else "") + f"part-{uuid.uuid4().hex}.parquet"
                    shutil.move(str(p), str(self.root / rel))
                    actions.append(
                        {
                            "add": {
                                "path": rel,
                                "size": (self.root / rel).stat().st_size,
                                "partitionValues": pv,
                                "modificationTime": now_ms,
                                "dataChange": False,
                                "stats": json.dumps(_footer_stats(self.root / rel)),
                            }
                        }
                    )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            for p in resolved_paths:
                rel_remove = Path(p).resolve().relative_to(root_resolved).as_posix()
                actions.append(
                    {
                        "remove": {
                            "path": rel_remove,
                            "deletionTimestamp": now_ms,
                            "dataChange": False,
                        }
                    }
                )
            result["rewritten"] += len(resolved_paths)
        self._commit(actions, "REORG", timestamp_ms)
        return result

    def optimize_small_files(
        self,
        spark: SparkSession,
        small_bytes: int = 32 << 20,
        target_bytes: int = 128 << 20,
        timestamp_ms: int | None = None,
    ) -> dict:
        """Bin-pack OPTIMIZE: rewrite ONLY undersized live files into
        ~target-size files, one commit, `dataChange=false` on every
        action — O(small files), not the O(table) full rewrite of
        `DeltaDestination.compact`. Because the commit carries no data
        change, incremental consumers (`changes_since`) are NOT
        invalidated — the protocol's contract for maintenance commits,
        and the property that makes OPTIMIZE safe to run under live
        CDC consumers at scale.

        Deletion vectors on rewritten files are RESOLVED into the
        merged output (the subset read applies them); their `.bin`
        files become unreferenced and fall to `vacuum`. Merging happens
        within a partition (files of one partitionValues tuple);
        singleton groups are left alone. Merged files land under the
        same partition dir, partition columns stripped from the parquet
        as the layout requires; column-mapped tables are written back
        under their physical names."""
        import math
        import shutil
        import tempfile
        from urllib.parse import quote

        from .partitioned_write import HIVE_NULL

        t = DeltaTable(self.root)
        cur = t.current_version()
        part_cols = t.partition_columns(cur)
        groups: dict[tuple, list[tuple[str, int]]] = {}
        total_live = 0
        for path, _dv, pv in t.live_adds(cur):
            total_live += 1
            size = Path(t._resolve(path)).stat().st_size
            if size < small_bytes:
                key = tuple(sorted((pv or {}).items()))
                groups.setdefault(key, []).append((path, size))
        now_ms = int(timestamp_ms if timestamp_ms is not None else time.time() * 1000)
        actions: list[dict] = []
        rewritten = 0
        root_resolved = self.root.resolve()
        for key, items in sorted(groups.items()):
            if len(items) < 2:
                continue
            rewritten += len(items)
            resolved_paths = [p for p, _s in items]  # live_adds resolves
            merged = t.read(spark, _files=resolved_paths)
            if part_cols:
                merged = merged.drop(*part_cols)
            merged = self._to_physical(merged)
            k = max(1, math.ceil(sum(s for _p, s in items) / max(1, target_bytes)))
            pv = dict(key)
            segs = [
                f"{c}={quote(str(pv[c]), safe='') if pv[c] is not None else HIVE_NULL}"
                for c in part_cols
            ]
            part_dir = "/".join(segs)
            if part_dir:
                (self.root / part_dir).mkdir(parents=True, exist_ok=True)
            tmp = tempfile.mkdtemp(prefix="delta_optimize_")
            try:
                merged.repartition(k).write.mode("overwrite").parquet(tmp)
                for p in sorted(Path(tmp).glob("*.parquet")):
                    rel = (f"{part_dir}/" if part_dir else "") + f"part-{uuid.uuid4().hex}.parquet"
                    shutil.move(str(p), str(self.root / rel))
                    actions.append(
                        {
                            "add": {
                                "path": rel,
                                "size": (self.root / rel).stat().st_size,
                                "partitionValues": pv,
                                "modificationTime": now_ms,
                                "dataChange": False,
                            }
                        }
                    )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            for p in resolved_paths:
                # remove actions must carry the STORED relative path
                rel_remove = Path(p).resolve().relative_to(root_resolved).as_posix()
                actions.append(
                    {
                        "remove": {
                            "path": rel_remove,
                            "deletionTimestamp": now_ms,
                            "dataChange": False,
                        }
                    }
                )
        result = {"files_before": total_live, "rewritten": rewritten}
        if not rewritten:
            result["files_after"] = total_live
            return result
        self._commit(actions, "OPTIMIZE", timestamp_ms)
        after = DeltaTable(self.root)
        result["files_after"] = len(after.files_for_version(after.current_version()))
        return result

    def optimize_zorder(
        self,
        spark: SparkSession,
        by: list[str],
        target_files: int = 8,
        bits: int = 16,
        timestamp_ms: int | None = None,
    ) -> dict:
        """OPTIMIZE ZORDER BY: full clustered rewrite on the
        bit-interleaved z-value (shared curve with the Iceberg
        rewrite — `plans/layout.zorder_value`), committed with
        `dataChange=false` on every action so incremental consumers
        are NOT invalidated. The payoff compounds with data skipping:
        the rewritten adds' footer-derived min/max stats become
        selective on EVERY cluster column, so the negotiated scan
        prunes on any of them. Deletion vectors are resolved into the
        rewrite; unpartitioned tables only (clustering is global)."""
        import math
        import shutil
        import tempfile

        from ..plans.layout import zorder_value

        t = DeltaTable(self.root)
        cur = t.current_version()
        if t.partition_columns(cur):
            raise DeltaError("optimize_zorder supports unpartitioned tables")
        current = t.read(spark, version=cur)
        z = zorder_value(current, by, bits=bits)
        total = sum(
            Path(t._resolve(p)).stat().st_size for p, _dv, _pv in t.live_adds(cur)
        )
        clustered = self._to_physical(
            current.withColumn("__z", z)
            .repartitionByRange(target_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        now_ms = int(timestamp_ms if timestamp_ms is not None else time.time() * 1000)
        actions: list[dict] = []
        tmp = tempfile.mkdtemp(prefix="delta_zorder_")
        try:
            clustered.write.mode("overwrite").parquet(tmp)
            for p in sorted(Path(tmp).glob("*.parquet")):
                rel = f"part-{uuid.uuid4().hex}.parquet"
                shutil.move(str(p), str(self.root / rel))
                actions.append(
                    {
                        "add": {
                            "path": rel,
                            "size": (self.root / rel).stat().st_size,
                            "partitionValues": {},
                            "modificationTime": now_ms,
                            "dataChange": False,
                        }
                    }
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        root_resolved = self.root.resolve()
        removed = 0
        for p, _dv, _pv in t.live_adds(cur):
            rel_remove = Path(p).resolve().relative_to(root_resolved).as_posix()
            actions.append(
                {
                    "remove": {
                        "path": rel_remove,
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                    }
                }
            )
            removed += 1
        self._commit(actions, "OPTIMIZE ZORDER", timestamp_ms)
        after = DeltaTable(self.root)
        return {
            "files_before": removed,
            "files_after": len(after.files_for_version(after.current_version())),
            "zorder_by": list(by),
            "bytes_rewritten": total,
        }

    def checkpoint(self) -> int:
        """Write a checkpoint parquet of the current state + the
        `_last_checkpoint` pointer — what Delta writers do every ~10
        commits so readers replay O(recent) instead of O(history)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self._version
        if v < 0:
            raise DeltaError("nothing committed yet — no state to checkpoint")
        t = DeltaTable(self.root)
        # Carry the latest JSON metaData forward whole — real Delta
        # readers (delta-rs, Spark Delta) require schemaString in
        # checkpoint metaData and partitionValues/modificationTime on
        # add rows; a log-cleaned table is read from the checkpoint
        # ALONE, so anything omitted here is lost to every reader.
        meta: dict = {
            "id": self.table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": "{}",
            "partitionColumns": [],
            "configuration": {},
        }
        for ver in t.versions():
            if ver > v:
                break
            for a in t.actions(ver):
                md = a.get("metaData")
                if md:
                    meta = {
                        "id": md.get("id", self.table_id),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": md.get("schemaString", "{}"),
                        "partitionColumns": md.get("partitionColumns") or [],
                        "configuration": md.get("configuration") or {},
                    }
        rows: list[dict] = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            # configuration omitted: pyarrow cannot write an empty
            # struct, and an absent key reads identically to {}
            {"metaData": meta},
        ]
        now_ms = int(time.time() * 1000)
        import os as _os

        adds = t.live_adds(v)
        pairs = [(p, dv) for p, dv, _pv in adds]
        pv_of = {p: pv for p, _dv, pv in adds}
        stats_of = {
            t._resolve(p): a.get("stats") for p, a in t.live_add_actions(v).items()
        }
        if any(dv for _f, dv in pairs):
            # DV state survives log cleaning only through the
            # checkpoint, and a DV table's protocol row must advertise
            # the reader feature (a feature-less checkpoint would let a
            # plain reader resurrect deleted rows)
            rows[0] = {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        for f, dv in pairs:
            rows.append(
                {
                    "add": {
                        "path": _os.path.relpath(f, str(self.root)),
                        "size": Path(f).stat().st_size,
                        "partitionValues": pv_of.get(f, {}),
                        "modificationTime": now_ms,
                        "dataChange": False,
                        **({"stats": stats_of[f]} if stats_of.get(f) else {}),
                        **({"deletionVector": dv} if dv else {}),
                    }
                }
            )
        cols = ("protocol", "metaData", "add")
        # explicit schema: partitionValues is map<string,string> in the
        # Delta checkpoint schema and pyarrow cannot infer a map (or
        # write an empty struct) from all-{} python dicts
        ck_schema = pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                            ("readerFeatures", pa.list_(pa.string())),
                            ("writerFeatures", pa.list_(pa.string())),
                        ]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            (
                                "format",
                                pa.struct(
                                    [
                                        ("provider", pa.string()),
                                        ("options", pa.map_(pa.string(), pa.string())),
                                    ]
                                ),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            ("configuration", pa.map_(pa.string(), pa.string())),
                        ]
                    ),
                ),
                pa.field(
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("size", pa.int64()),
                            ("partitionValues", pa.map_(pa.string(), pa.string())),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                            # stats ride the checkpoint so a log-cleaned
                            # table keeps metadata-only count(*)
                            ("stats", pa.string()),
                            (
                                "deletionVector",
                                pa.struct(
                                    [
                                        ("storageType", pa.string()),
                                        ("pathOrInlineDv", pa.string()),
                                        ("offset", pa.int32()),
                                        ("sizeInBytes", pa.int32()),
                                        ("cardinality", pa.int64()),
                                    ]
                                ),
                            ),
                        ]
                    ),
                ),
            ]
        )
        table = pa.Table.from_pylist(
            [{c: r.get(c) for c in cols} for r in rows], schema=ck_schema
        )
        dest = self.root / "_delta_log" / f"{v:020d}.checkpoint.parquet"
        pq.write_table(table, dest)
        (self.root / "_delta_log" / "_last_checkpoint").write_text(
            json.dumps({"version": v, "size": len(rows)})
        )
        return v

    def clean_log(self, before_version: int) -> list[int]:
        """Delete commit JSONs for versions < before_version (log
        retention) — afterwards only the checkpoint can reconstruct the
        older state, which is exactly the layout readers meet on any
        table older than the retention window."""
        removed = []
        for p in sorted((self.root / "_delta_log").glob("*.json")):
            if p.stem.isdigit() and int(p.stem) < before_version:
                p.unlink()
                removed.append(int(p.stem))
        return removed

    def overwrite(self, df: DataFrame, timestamp_ms: int | None = None) -> int:
        removes = []
        if self._version >= 0:
            live = DeltaTable(self.root).files_for_version(self._version)
            for f in live:
                removes.append(
                    {
                        "remove": {
                            "path": str(Path(f).name),
                            "deletionTimestamp": int(time.time() * 1000),
                            "dataChange": True,
                        }
                    }
                )
        return self._commit(removes + self._write_data(df), "WRITE", timestamp_ms)


def delta_history(spark: SparkSession, table: DeltaTable) -> "DataFrame":
    """`DESCRIBE HISTORY` analogue: the commit log as a DataFrame
    (version, timestamp, operation, adds, removes) — the observability
    surface of the _delta_log, symmetric with the Iceberg metadata
    tables. Checkpoint-covered versions whose JSONs were cleaned
    appear once as the checkpoint row."""
    rows = []
    ck = table._checkpoint_info()
    if ck is not None:
        v = int(ck["version"])
        adds = sum(1 for a in table._checkpoint_actions(v) if "add" in a)
        rows.append((v, None, "CHECKPOINT", adds, 0))
    for v in table.versions():
        actions = table.actions(v)
        op = next(
            (str(a["commitInfo"].get("operation", "")) for a in actions if "commitInfo" in a),
            "",
        )
        rows.append(
            (
                v,
                table.commit_timestamp_ms(v),
                op,
                sum(1 for a in actions if "add" in a),
                sum(1 for a in actions if "remove" in a),
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "version int, timestamp_ms long, operation string, num_adds int, num_removes int",
    )
