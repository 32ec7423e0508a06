"""Hudi MERGE-ON-READ destination: upserts append Avro log blocks to
the touched file groups instead of rewriting them.

Completes the Hudi write surface next to the copy-on-write destination
(`hudi_dest.py`) — same commit/verify protocol, same Receipt.
Reference frame: the destination protocol's delivery guarantees
(`crates/cdf-kernel/src/destination.rs:427-433`); the table layout is
what `sources/hudi_mor.HudiMorTable` reads and real Hudi MoR writers
emit (delta-commit timeline + HoodieLogFormat blocks).

Why MoR matters at scale: copy-on-write MERGE rewrites every touched
file group per batch — at streaming-upsert cadence the write
amplification is O(touched groups x group size) per epoch. The MoR
path is **O(batch)**: each batch appends one log file per touched
group (bucket-index routing — fileId is a pure function of the record
key, so routing needs NO table read at all, not even the stats-pruned
scan the CoW path does), and the rewrite debt is paid ONCE by
compaction, amortized across all the epochs in between. This is Hudi's
whole reason for MERGE_ON_READ, and exactly the shape its streaming
ingest (DeltaStreamer) uses.

Scale discipline:
- routing is computed column-side (`pmod(crc32(key), n_buckets)`) —
  zero driver key-state, zero table scan per batch;
- log blocks are encoded and written EXECUTOR-side, one task per
  touched (partition, bucket) group via `applyInPandas`; the driver
  sees only the O(touched groups) write-stats rows that go into the
  delta-commit JSON;
- rows routed to a bucket with no base file yet open a NEW file group
  as a parquet base (the bulk-insert path), written distributed;
- compaction + cleaning ride the existing maintenance autopilot
  (`package/maintenance.py` routes MoR timelines to the MoR cleaner;
  compaction is planned when the dirty-group log debt crosses the
  policy threshold).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.base import WriteDisposition
from ..sources.hudi_mor import (
    META_COMMIT_TIME,
    META_RECORD_KEY,
    _INSTANT_BASE,
    HudiMorFixtureWriter,
    HudiMorTable,
    encode_data_block,
    encode_delete_block,
)
from .builder import PackageResult
from .ledger import Receipt, verify_frame


def _py(v, avro_type):
    """numpy/pandas scalar -> plain python for the Avro encoder."""
    if v is None:
        return None
    try:
        import pandas as pd

        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if avro_type == "long" or avro_type == "int":
        return int(v)
    if avro_type in ("float", "double"):
        return float(v)
    if avro_type == "boolean":
        return bool(v)
    if avro_type == "string":
        return str(v)
    return v


class HudiMorDestination:
    """A Hudi merge-on-read destination speaking the commit protocol —
    drop-in peer of HudiDestination (CoW), IcebergDestination and
    DeltaDestination. APPEND on an empty table is the initial bulk
    load (one base file group per bucket); APPEND/MERGE afterwards
    append log blocks (Hudi's AppendHandle shape — MoR INSERT and
    UPSERT both land in logs under the bucket index)."""

    def __init__(
        self,
        table_path: str | Path,
        record_key: str,
        precombine: str | None = None,
        n_buckets: int = 4,
        partition_by: list[str] | None = None,
    ):
        self.table_path = Path(table_path)
        self.record_key = record_key
        self.precombine = precombine
        self.n_buckets = n_buckets
        self.partition_by = list(partition_by or [])
        self.cdc_op_col = "op"

    def _bucket_authority(self) -> tuple[int, int]:
        """(n_buckets, generation) from the table's hoodie.properties —
        the durable authority a resize_buckets() rewrite updates;
        routing with the constructor default after a resize would
        scatter keys across the wrong groups. O(1) metadata read per
        epoch, never a table scan."""
        props_path = self.table_path / ".hoodie" / "hoodie.properties"
        if props_path.exists():
            rec = dict(
                line.split("=", 1)
                for line in props_path.read_text().splitlines()
                if "=" in line
            )
            return (
                int(rec.get("hoodie.index.bucket.num", self.n_buckets)),
                int(rec.get("hoodie.index.bucket.generation", 0)),
            )
        return self.n_buckets, 0

    def maybe_resize_buckets(
        self,
        spark: SparkSession,
        max_group_bytes: int = 256 << 20,
        quantile: float = 0.95,
    ) -> str | None:
        """Clustering-autopilot policy: when the p95 live file-group
        size (base + pending logs) crosses `max_group_bytes`, rewrite
        the table into 2x buckets (`resize_buckets`) so per-group
        sizes halve and per-epoch log appends stay bounded. Sizing is
        an O(groups) driver stat over slice paths — no data read; the
        resize itself is the one O(table) rewrite clustering always
        pays. Returns the replacecommit instant or None."""
        t = HudiMorTable(self.table_path)
        try:
            slices = t.file_slices(t.latest_instant())
        except Exception:
            return None
        if not slices:
            return None
        sizes = sorted(
            Path(base).stat().st_size + sum(Path(p).stat().st_size for p, _v in logs)
            for _fid, _part, base, logs in slices
        )
        p = sizes[min(len(sizes) - 1, int(quantile * len(sizes)))]
        if p <= max_group_bytes:
            return None
        nb, _gen = self._bucket_authority()
        w = HudiMorFixtureWriter(
            self.table_path,
            record_key=self.record_key,
            precombine=self.precombine,
            n_buckets=nb,
            partition_by=self.partition_by,
        )
        return w.resize_buckets(spark, nb * 2)

    def _initial_insert(self, batch) -> None:
        w = HudiMorFixtureWriter(
            self.table_path,
            record_key=self.record_key,
            precombine=self.precombine,
            n_buckets=self.n_buckets,
            partition_by=self.partition_by,
        )
        w.insert(batch)

    # -- protocol ----------------------------------------------------------
    def commit(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        batch = spark.read.parquet(package.data_path())
        empty = not (self.table_path / ".hoodie").is_dir() or not any(
            (self.table_path / ".hoodie").glob("*.deltacommit")
        )
        if disposition in (WriteDisposition.APPEND, WriteDisposition.MERGE):
            if empty:
                self._initial_insert(batch)
            else:
                self._append_log_commit(spark, batch)
        elif disposition is WriteDisposition.CDC_APPLY:
            # row-level CDC feed: the package carries an op column
            # (insert/update/delete). Upserts land as Avro data
            # blocks, deletes as native DELETE blocks — both in ONE
            # log file per touched group, one delta commit. The MoR
            # twin of the Delta DV-merge/DV-delete CDC application.
            if self.cdc_op_col not in batch.columns:
                raise ValueError(
                    f"cdc_apply package must carry op column {self.cdc_op_col!r}"
                )
            if empty:
                ups = batch.filter(
                    F.col(self.cdc_op_col) != "delete"
                ).drop(self.cdc_op_col)
                self._initial_insert(ups)  # deletes on empty are no-ops
            else:
                self._append_log_commit(spark, batch, op_col=self.cdc_op_col)
        else:
            raise ValueError(
                f"disposition {disposition} not supported by HudiMorDestination "
                "(REPLACE belongs to the CoW destination; MoR streaming ingest "
                "is APPEND/MERGE/CDC_APPLY + compaction)"
            )
        return Receipt.issue(package, disposition, f"hudi+mor://{self.table_path}")

    def _append_log_commit(self, spark: SparkSession, batch, op_col: str | None = None) -> None:
        """ONE delta commit: per touched (partition, bucket) file group
        either a new log file (group exists) or a new parquet base
        (first rows ever routed to that group). With `op_col`, rows
        whose op is 'delete' encode as native DELETE blocks in the
        same per-group log file (one file can carry a data block AND a
        delete block); the effect stream should be pre-reduced to one
        winner per key. Everything row-shaped happens executor-side;
        the driver handles O(touched groups) stats."""
        t = HudiMorTable(self.table_path)
        latest = t.latest_instant()
        instant = f"{max(int(latest), _INSTANT_BASE) + 1:017d}"
        root = str(self.table_path)
        nb, gen = self._bucket_authority()
        rk, pcols = self.record_key, self.partition_by

        # driver-side O(groups) metadata: base instant + next log
        # version per live group — what log file names need
        group_info: dict[str, tuple[str, int]] = {}
        for fid, _part, base, logs in t.file_slices(latest):
            base_instant = Path(base).stem.rsplit("_", 1)[1]
            next_ver = max((v for _p, v in logs), default=0) + 1
            group_info[fid] = (base_instant, next_ver)

        staged = batch.withColumn(META_COMMIT_TIME, F.lit(instant)).withColumn(
            META_RECORD_KEY, F.col(rk).cast("string")
        )
        part_expr = (
            F.concat_ws(
                "/", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in pcols]
            )
            if pcols
            else F.lit("")
        )
        staged = staged.withColumn("_cdf_part", part_expr).withColumn(
            "_cdf_bucket",
            F.pmod(F.crc32(F.col(rk).cast("string").cast("binary")), F.lit(nb)),
        )

        # the avro writer schema for the log records (meta cols
        # included, routing helpers excluded) — built once, shipped in
        # the UDF closure
        w_probe = HudiMorFixtureWriter.__new__(HudiMorFixtureWriter)
        drop_helpers = ["_cdf_part", "_cdf_bucket"] + ([op_col] if op_col else [])
        schema = w_probe._df_avro_schema(staged.drop(*drop_helpers))
        avro_types = {
            f["name"]: (f["type"][1] if isinstance(f["type"], list) else f["type"])
            for f in schema["fields"]
        }
        data_cols = [f["name"] for f in schema["fields"]]
        fid_of = lambda part, bucket: HudiMorFixtureWriter._fid(part, bucket, gen)  # noqa: E731

        import pandas as pd

        def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
            part = str(pdf["_cdf_part"].iloc[0])
            bucket = int(pdf["_cdf_bucket"].iloc[0])
            fid = fid_of(part, bucket)
            if op_col is not None:
                del_keys = [
                    str(k)
                    for k in pdf.loc[pdf[op_col] == "delete", META_RECORD_KEY]
                ]
                pdf = pdf[pdf[op_col] != "delete"]
            else:
                del_keys = []
            recs = [
                {c: _py(r[c], avro_types[c]) for c in data_cols}
                for r in pdf[data_cols].to_dict("records")
            ]
            info = group_info.get(fid)
            if info is not None:
                base_instant, ver = info
                name = f".{fid}_{base_instant}.log.{ver}_0-0-0"
                rel = f"{part}/{name}" if part else name
                block = b""
                if recs:
                    block += encode_data_block(schema, recs, instant)
                if del_keys:
                    block += encode_delete_block(
                        [(k, part) for k in del_keys], instant
                    )
                with open(f"{root}/{rel}", "wb") as f:
                    f.write(block)
            elif not recs:
                # delete-only rows routed to a group that never
                # existed: nothing to delete, nothing to write
                return pd.DataFrame(
                    [{"part": part, "fileId": fid, "path": "", "numWrites": 0}]
                )
            else:
                # first rows ever routed here: open the group with a
                # parquet base (bulk-insert path)
                import pyarrow as pa
                import pyarrow.parquet as pq

                rel = (
                    f"{part}/{fid}_0-0-0_{instant}.parquet"
                    if part
                    else f"{fid}_0-0-0_{instant}.parquet"
                )
                Path(f"{root}/{rel}").parent.mkdir(parents=True, exist_ok=True)
                pq.write_table(
                    pa.Table.from_pylist([{c: r[c] for c in data_cols} for r in recs]),
                    f"{root}/{rel}",
                )
            return pd.DataFrame(
                [
                    {
                        "part": part,
                        "fileId": fid,
                        "path": rel,
                        "numWrites": len(recs) + len(del_keys),
                    }
                ]
            )

        stats_rows = (
            staged.groupBy("_cdf_part", "_cdf_bucket")
            .applyInPandas(
                write_group, "part string, fileId string, path string, numWrites long"
            )
            .collect()  # O(touched groups), never row data
        )
        stats: dict[str, list[dict]] = {}
        for r in stats_rows:
            if not r["path"]:
                continue  # delete-only rows into a nonexistent group
            stats.setdefault(r["part"], []).append(
                {"fileId": r["fileId"], "path": r["path"], "numWrites": int(r["numWrites"])}
            )
        if not stats:
            return  # whole batch was no-op deletes: no commit
        meta = {"partitionToWriteStats": stats, "operationType": "UPSERT"}
        (self.table_path / ".hoodie" / f"{instant}.deltacommit").write_text(
            json.dumps(meta, indent=1)
        )

    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        if receipt.disposition == WriteDisposition.CDC_APPLY.value:
            df = self.read(spark)
            staged = spark.read.parquet(package.data_path())
            ups = staged.filter(F.col(self.cdc_op_col) != "delete")
            dels = staged.filter(F.col(self.cdc_op_col) == "delete")
            cond_u = ups[self.record_key].eqNullSafe(df[self.record_key])
            ok = ups.join(df, on=cond_u, how="left_anti").isEmpty()
            # delete winners must be gone (unless a same-batch upsert
            # re-asserted the key — reduced streams cannot have both)
            cond_d = dels[self.record_key].eqNullSafe(df[self.record_key])
            ok = ok and dels.join(df, on=cond_d, how="left_semi").isEmpty()
            receipt.verified = bool(ok)
            return receipt
        return verify_frame(spark, receipt, package, lambda: self.read(spark), [self.record_key])

    def read(self, spark: SparkSession):
        """The merge-on-read SNAPSHOT — base files + pending log blocks
        merged, exactly what any Hudi snapshot reader resolves."""
        return HudiMorTable(self.table_path).snapshot(spark).drop(
            META_COMMIT_TIME, META_RECORD_KEY
        )

    def compact(self, spark: SparkSession) -> str | None:
        """Pay the rewrite debt once: fold every dirty group's logs
        into new base versions via a real `.commit` (the reader's
        supersession rule then drops the logs from the slice)."""
        w = HudiMorFixtureWriter(
            self.table_path,
            record_key=self.record_key,
            precombine=self.precombine,
            n_buckets=self.n_buckets,
            partition_by=self.partition_by,
        )
        return w.compact(spark)
