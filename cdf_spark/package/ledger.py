"""Destination commits, receipts, and the checkpoint ledger.

Re-expresses the reference's commit protocol
(`DestinationProtocol::plan_commit -> CommitSession -> verify(receipt)`,
`crates/cdf-kernel/src/destination.rs:370-410`) and the append-only
checkpoint (`crates/cdf-kernel/src/checkpoint.rs:1-454`): a package
commits into a destination under a write disposition; the destination
returns a receipt; the checkpoint advances ONLY after the receipt
verifies. Positions (cursors/frontiers) ride on the checkpoint.

Every destination builds its receipt with `Receipt.issue`. Receipts
verify by `verify_frame` here for destinations Spark reads back as a
frame, by `ParquetDestination.verify`'s byte rule, and by
`dbapi_dest.verify_sql` for the SQL sinks.

`ParquetDestination` lands a package's segments by byte copy:
  append   -> into the table dir (at-least-once)
  replace  -> as the table's only files (effectively-once per target)
  merge    -> beside the rewritten rows whose key it lacks (effectively-once per key)
The honest delivery guarantee is recorded on every receipt
(`crates/cdf-kernel/src/destination.rs:427-433`).
"""

from __future__ import annotations

import filecmp
import json
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import asdict, dataclass, field
from functools import reduce
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.base import WriteDisposition
from ..types.schema import CanonicalSchema
from .builder import PackageResult
from .stats import data_files, dataset_value_hash, parquet_row_count


@dataclass
class Receipt:
    receipt_id: str
    package_id: str
    destination: str
    disposition: str
    delivery_guarantee: str
    rows_written: int
    value_hash: str
    committed_at_ms: int
    verified: bool = False

    @classmethod
    def issue(cls, package: PackageResult, disposition: WriteDisposition, destination: str) -> Receipt:
        """The unverified receipt a destination returns from `commit`."""
        return cls(
            receipt_id="rcp-" + uuid.uuid4().hex[:16],
            package_id=package.package_id,
            destination=destination,
            disposition=disposition.value,
            delivery_guarantee=disposition.delivery_guarantee,
            rows_written=package.rows_admitted,
            value_hash=package.value_hash,
            committed_at_ms=int(time.time() * 1000),
        )


def verify_frame(
    spark: SparkSession,
    receipt: Receipt,
    package: PackageResult | None,
    read: Callable[[], DataFrame],
    keys: list[str],
    count: Callable[[], int] | None = None,
) -> Receipt:
    """Receipt verification for every destination Spark reads back as
    one frame (`read()`: the destination's current state, built only
    by the rules that need it).

    - REPLACE: `read()` hashes to the package's value hash.
    - MERGE: every staged key is present in `read()` (a null-safe
      `left_anti` join from the package segments returns no rows).
    - APPEND with keys: the same key containment as MERGE.
    - APPEND without keys: `count() >= rows_written`. `count` defaults
      to `read().count()`; a destination that can count its rows
      without Spark passes its own (Parquet: a footer count, O(files)
      driver time and no Spark job). This path reads neither `package`
      nor its segments.

    Two known gaps. The keyless APPEND bound is true of any package no
    larger than the table, so it does not prove *this* package landed.
    MERGE and keyed APPEND prove the staged keys are present, not their
    values; Parquet's byte rule (`ParquetDestination.verify`) and the
    SQL backend (`dbapi_dest.verify_sql`) prove values.
    """
    d = WriteDisposition(receipt.disposition)
    if d is WriteDisposition.REPLACE:
        ok = dataset_value_hash(read()) == package.value_hash
    elif keys and d in (WriteDisposition.MERGE, WriteDisposition.APPEND):
        table = read()
        staged = spark.read.parquet(package.data_path())
        cond = reduce(lambda a, b: a & b, [staged[k].eqNullSafe(table[k]) for k in keys])
        ok = staged.join(table, on=cond, how="left_anti").isEmpty()
    elif d is WriteDisposition.APPEND:
        rows = count() if count is not None else read().count()
        ok = rows >= receipt.rows_written
    else:
        raise ValueError(f"cannot verify a {d.value} receipt without merge keys")
    receipt.verified = bool(ok)
    return receipt


@dataclass
class CheckpointEntry:
    checkpoint_id: str
    resource_id: str
    package_id: str
    receipt_id: str
    positions: dict = field(default_factory=dict)
    created_at_ms: int = 0


class ParquetDestination:
    """A parquet-directory destination speaking the commit protocol."""

    def __init__(self, table_path: str | Path, merge_keys: list[str] | None = None):
        self.table_path = Path(table_path)
        self.merge_keys = merge_keys or []

    def commit(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        if not self.table_path.exists():
            self._restore_swapped_table()
        if disposition is WriteDisposition.APPEND:
            self._copy_segments(package, self.table_path)
        elif disposition is WriteDisposition.REPLACE:
            self._publish(package, None)
        elif disposition is WriteDisposition.MERGE:
            if not self.merge_keys:
                raise ValueError("merge disposition requires merge_keys")
            files = data_files(self.table_path)
            self._publish(package, self._survivors(spark, package, files[0]) if files else None)
        else:
            raise ValueError(f"disposition {disposition} not supported by ParquetDestination")

        return Receipt.issue(package, disposition, str(self.table_path))

    @staticmethod
    def _segments(package: PackageResult) -> dict[str, str]:
        """Landed name -> package segment. The package-id prefix keeps
        appends from colliding and replays idempotent per segment."""
        return {f"{package.package_id}-{Path(s).name}": s for s in package.segments()}

    def _copy_segments(self, package: PackageResult, into: Path) -> None:
        """Segments are canonical parquet: no decode/re-encode, bounded by
        device write (the reference's bulk `canonical_segment_scan` path)."""
        into.mkdir(parents=True, exist_ok=True)
        for name, seg in self._segments(package).items():
            shutil.copy2(seg, into / name)

    def _swapped_aside(self) -> list[Path]:
        """The `<table>.old-*` siblings `_publish` renames the live table to."""
        prefix, parent = self.table_path.name + ".old-", self.table_path.parent
        return sorted(p for p in parent.iterdir() if p.name.startswith(prefix)) if parent.is_dir() else []

    def _restore_swapped_table(self) -> None:
        """A commit killed between `_publish`'s two renames leaves no table
        dir and the live table in one `<table>.old-*` sibling: rename it
        back. The killed commit issued no receipt, so the replay redoes
        it. More than one such sibling is ambiguous and raises."""
        aside = self._swapped_aside()
        if len(aside) > 1:
            raise RuntimeError(
                f"{self.table_path} is missing and {len(aside)} swapped-aside copies exist: "
                f"{[p.name for p in aside]}; restore one by hand"
            )
        if aside:
            aside[0].rename(self.table_path)

    def _publish(self, package: PackageResult, survivors: DataFrame | None) -> None:
        """Replace the table with `survivors` plus the package's segments,
        near-atomically: the new table is materialized in a staging dir
        (cleared first: a killed commit's leftovers never land), the live
        dir is renamed aside, staging renames into place, then the old copy
        is deleted, with any stale copy an earlier killed commit left — at
        every instant a complete table exists on disk."""
        tmp = self.table_path.with_name(self.table_path.name + ".staging")
        if tmp.exists():
            shutil.rmtree(tmp)
        if survivors is not None:
            survivors.write.parquet(str(tmp))
        self._copy_segments(package, tmp)

        old = self.table_path.with_name(self.table_path.name + f".old-{uuid.uuid4().hex[:8]}")
        if self.table_path.exists():
            self.table_path.rename(old)
        try:
            tmp.rename(self.table_path)
        except OSError:
            # roll back: restore the live table, keep staging for forensics
            if old.exists() and not self.table_path.exists():
                old.rename(self.table_path)
            raise
        for stale in self._swapped_aside():
            shutil.rmtree(stale)

    def _survivors(self, spark: SparkSession, package: PackageResult, first: str) -> DataFrame:
        """Target rows whose key is not in the package (null-safe;
        `crates/cdf-dest-duckdb/src/commit.rs:150-216`). Package keys are
        read with its recorded schema; copied segments are never widened,
        so a package whose columns differ from the target's is refused.
        The target's schema is the one Spark's inference would read from
        one footer, taken without a job where Spark recorded it there."""
        recorded = (pq.read_metadata(first).metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        reader = spark.read.schema(T.StructType.fromJson(json.loads(recorded))) if recorded else spark.read
        target = reader.parquet(str(self.table_path))
        schema = CanonicalSchema.from_json((Path(package.path) / "schema" / "schema.json").read_text())
        have = {f.name: f.type for f in CanonicalSchema.from_spark(target.schema).fields}
        got = {f.name: f.type for f in schema.fields}
        for name in sorted(have.keys() | got.keys()):
            if have.get(name) != got.get(name):
                raise ValueError(
                    f"MERGE into {self.table_path} refused: column {name!r} is "
                    f"{got.get(name, 'missing')} in the package but {have.get(name, 'missing')} in the target"
                )
        keys = spark.read.schema(schema.to_spark()).parquet(package.data_path()).select(*self.merge_keys)
        cond = reduce(lambda a, b: a & b, [target[k].eqNullSafe(keys[k]) for k in self.merge_keys])
        return target.join(F.broadcast(keys), on=cond, how="left_anti")

    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        """REPLACE, MERGE and keyed APPEND verify by bytes, with no Spark
        job: the package is content-addressed, and each manifest segment
        is in the table as a byte-identical `{package_id}-{segment}`;
        under REPLACE they are its only data files. Keyless APPEND keeps
        `verify_frame`'s count bound."""
        d = WriteDisposition(receipt.disposition)
        keyed = self.merge_keys and d in (WriteDisposition.MERGE, WriteDisposition.APPEND)
        if not keyed and d is not WriteDisposition.REPLACE:
            return verify_frame(
                spark, receipt, package, lambda: self.read(spark), self.merge_keys,
                count=lambda: parquet_row_count(self.table_path),
            )
        landed = self._segments(package)
        present = {str(Path(f).relative_to(self.table_path)) for f in data_files(self.table_path)}
        placed = present == landed.keys() if d is WriteDisposition.REPLACE else landed.keys() <= present
        filecmp.clear_cache()  # its entries are keyed by (size, mtime), which a rewrite can keep
        receipt.verified = package.addressed() and placed and all(
            filecmp.cmp(seg, self.table_path / name, shallow=False) for name, seg in landed.items()
        )
        return receipt

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.table_path))


class CheckpointLedger:
    """Append-only JSONL checkpoint + receipts ledger.

    Typed state transitions commit only after receipt verification
    (`checkpoint.rs`): `advance()` refuses unverified receipts.
    """

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.checkpoints = self.root / "checkpoints.jsonl"
        self.receipts = self.root / "receipts.jsonl"

    def record_receipt(self, receipt: Receipt) -> None:
        with open(self.receipts, "a") as f:
            f.write(json.dumps(asdict(receipt)) + "\n")

    def advance(self, resource_id: str, receipt: Receipt, positions: dict | None = None) -> CheckpointEntry:
        if not receipt.verified:
            raise ValueError("checkpoint refused: receipt not verified (destination.rs:370-410 parity)")
        entry = CheckpointEntry(
            checkpoint_id="ckp-" + uuid.uuid4().hex[:16],
            resource_id=resource_id,
            package_id=receipt.package_id,
            receipt_id=receipt.receipt_id,
            positions=positions or {},
            created_at_ms=int(time.time() * 1000),
        )
        with open(self.checkpoints, "a") as f:
            f.write(json.dumps(asdict(entry)) + "\n")
        return entry

    def epoch_committed(self, resource_id: str, epoch_id: int) -> bool:
        """True when this stream epoch already checkpointed — the
        foreachBatch exactly-once guard. Spark re-invokes foreachBatch
        with the SAME epoch id when a crash lands between the sink
        commit and the offset commit; a checkpointed epoch must be
        skipped, not committed twice (the batchId-dedup discipline
        every idempotent foreachBatch sink uses)."""
        if not self.checkpoints.exists():
            return False
        with open(self.checkpoints) as f:
            for line in f:
                obj = json.loads(line)
                if (
                    obj["resource_id"] == resource_id
                    and obj.get("positions", {}).get("epoch") == int(epoch_id)
                ):
                    return True
        return False

    def latest(self, resource_id: str) -> CheckpointEntry | None:
        if not self.checkpoints.exists():
            return None
        last = None
        with open(self.checkpoints) as f:
            for line in f:
                obj = json.loads(line)
                if obj["resource_id"] == resource_id:
                    last = CheckpointEntry(**obj)
        return last

    def resume_position(self, resource_id: str, field: str):
        ck = self.latest(resource_id)
        if ck is None:
            return None
        return ck.positions.get(field)
