"""Delta Lake destination speaking the plan_commit -> verify protocol.

Open-format sibling of :class:`cdf_spark.package.iceberg_dest.
IcebergDestination`: packages land in a real `_delta_log` table
delta-rs / Spark-Delta / DuckDB's delta extension can read.

- APPEND / REPLACE commit the package's canonical segments by COPY
  (add/remove actions, no decode/re-encode).
- MERGE is MERGE-ON-READ (r7): matched current rows are removed via
  per-file DELETION VECTORS (built + written executor-side) and the
  batch's segments append — ONE commit, O(batch) data movement, the
  Delta twin of IcebergDestination's equality-delete upsert. The old
  copy-on-write resolution lives on as `compact()` (resolves DVs into
  a clean rewrite, the OPTIMIZE analogue).

Commits are atomic at the log level: the numbered commit JSON is
written last, so a crash mid-copy leaves orphaned parquet but the
previous version current.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import SparkSession

from ..sources.base import WriteDisposition
from ..sources.delta import DeltaFixtureWriter, DeltaTable
from .builder import PackageResult
from .ledger import Receipt, verify_frame


class DeltaDestination:
    """A Delta-table destination speaking the commit protocol."""

    def __init__(
        self,
        table_path: str | Path,
        merge_keys: list[str] | None = None,
        checkpoint_interval: int = 10,
        max_commit_retries: int = 5,
        partition_by: list[str] | None = None,
        uniform: str | None = None,
    ):
        """`partition_by` (identity columns) seeds a NEW table's hive
        layout; an existing table's spec always wins (rehydrated from
        its own metaData). Partitioned commits route through the
        distributed partition-splitting write instead of segment copy
        so every add carries its partitionValues and file pruning
        works; MERGE is merge-on-read via deletion vectors on flat AND
        partitioned tables (victims found under a basePath scan, the
        batch partition-split in one distributed write).

        `uniform="iceberg"` is Delta UniForm: after every successful
        commit, Iceberg metadata is generated IN the table directory
        (`<table>/metadata/` beside `_delta_log` — the real UniForm
        layout) linking the same data files, so Iceberg engines read
        the table with zero copies and per-commit history parity.
        DV-carrying versions cannot be expressed by linking and leave
        the Iceberg view at the last representable state (a recorded
        gap + `stale` flag in `last_uniform_sync` — real UniForm has
        the same DV limitation); compaction/REORG catches it up."""
        self.table_path = Path(table_path)
        self.merge_keys = merge_keys or []
        self.checkpoint_interval = checkpoint_interval
        self.max_commit_retries = max_commit_retries
        self.partition_by = list(partition_by or [])
        if uniform not in (None, "iceberg"):
            raise ValueError(f"unsupported uniform target {uniform!r}")
        self.uniform = uniform
        self.last_uniform_sync: dict | None = None

    def commit(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        """Commit with optimistic-concurrency RETRY (same policy as
        IcebergDestination): the numbered commit JSON is the CAS token;
        a loser discards its writer, rehydrates (winner's version
        becomes the base), and redoes the commit — racing committers
        serialize, the log stays linear, losers' parquet copies become
        unreferenced orphans. A checkpoint parquet is written every
        `checkpoint_interval` commits (the real-writer cadence) so
        readers replay O(recent)."""
        from ..sources.delta import DeltaError

        attempt = 0
        while True:
            try:
                return self._commit_once(spark, package, disposition)
            except DeltaError as exc:
                if "concurrent commit" not in str(exc) or attempt >= self.max_commit_retries:
                    raise
                attempt += 1
                time.sleep(0.02 * attempt)

    def _commit_once(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition,
    ) -> Receipt:
        segments = package.segments()
        w = DeltaFixtureWriter(
            self.table_path,
            checkpoint_interval=self.checkpoint_interval,
            partition_by=self.partition_by,
        )
        if w.partition_by:
            # partitioned table (spec declared or rehydrated): commit
            # through the partition-splitting write so adds carry
            # partitionValues — the copy fast path would land
            # tuple-less files that disable pruning
            df = spark.read.parquet(package.data_path())
            if disposition is WriteDisposition.APPEND:
                w.append(df)
            elif disposition is WriteDisposition.REPLACE:
                w.replace(df)
            elif disposition is WriteDisposition.MERGE:
                if not self.merge_keys:
                    raise ValueError("merge disposition requires merge_keys")
                # merge-on-read, same as the flat path: DV the matched
                # rows in place (basePath victim scan reconstitutes
                # partition columns, so keys may include them) + the
                # batch lands through the partition-splitting write —
                # one commit, O(batch) data movement, pruning intact
                w.upsert_files_dv(spark, segments, self.merge_keys)
            else:
                raise ValueError(f"disposition {disposition} not supported by DeltaDestination")
        elif disposition is WriteDisposition.APPEND:
            w.append_files(segments)
        elif disposition is WriteDisposition.REPLACE:
            w.replace_files(segments)
        elif disposition is WriteDisposition.MERGE:
            if not self.merge_keys:
                raise ValueError("merge disposition requires merge_keys")
            # merge-on-read: DV the matched rows in place + append the
            # batch's segments — one commit, O(batch) data movement;
            # compact() resolves accumulated DVs when maintenance runs
            w.upsert_files_dv(spark, segments, self.merge_keys)
        else:
            raise ValueError(f"disposition {disposition} not supported by DeltaDestination")
        if self.uniform == "iceberg":
            from .xtable import sync_delta_to_iceberg

            # per-commit UniForm sync: O(new commits) metadata, zero
            # copies; the iceberg metadata lives inside the table dir
            self.last_uniform_sync = sync_delta_to_iceberg(
                self.table_path, self.table_path
            )
        return Receipt.issue(package, disposition, f"delta://{self.table_path}")

    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        return verify_frame(spark, receipt, package, lambda: self.read(spark), self.merge_keys)

    def read(self, spark: SparkSession):
        return DeltaTable(self.table_path).read(spark)

    def compact(self, spark: SparkSession, target_files: int = 8) -> dict:
        """Maintenance: rewrite the current state into `target_files`
        files as one replace commit (the OPTIMIZE analogue) — the
        small-file remedy for per-epoch streaming commits. History
        stays: earlier versions still time-travel until clean_log."""
        import shutil
        import tempfile

        t = DeltaTable(self.table_path)
        before = len(t.files_for_version(t.current_version()))
        current = t.read(spark)
        tmp = tempfile.mkdtemp(prefix="delta_compact_")
        try:
            current.repartition(target_files).write.mode("overwrite").parquet(tmp)
            files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
            w = DeltaFixtureWriter(self.table_path, checkpoint_interval=self.checkpoint_interval)
            w.replace_files(files)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        after = DeltaTable(self.table_path)
        return {
            "files_before": before,
            "files_after": len(after.files_for_version(after.current_version())),
        }
