"""Iceberg destination speaking the plan_commit -> verify protocol.

The pipeline's packages land in a REAL Apache-Iceberg table any engine
can read (Spark+jars, Trino, DuckDB iceberg extension, pyiceberg) —
the open-format counterpart of the reference's destination family
(`crates/cdf-dest-*`; commit/verify receipt discipline per
`crates/cdf-runtime/src/checkpoint.rs`):

- APPEND: a new append snapshot whose data files are the package's
  canonical segments committed by COPY — no decode/re-encode (the
  reference's bulk `canonical_segment_scan` posture), bounds from the
  parquet footers so the table is immediately prunable.
- REPLACE: an overwrite snapshot; prior files stay for time travel.
- MERGE: ONE snapshot carrying an equality-delete file (the batch's
  keys) AND the batch's data files at the same sequence number — the
  Flink-CDC upsert commit shape. Sequence scoping makes it correct by
  construction: the delete applies only to strictly-older data files,
  so the batch's own rows survive while older rows with matching keys
  are removed. Merge-on-read — a 0.1%-of-keys batch moves 0.1% of the
  data, not 100%.

Verification reads the table back THROUGH the Iceberg reader (the
same resolution any consumer uses). Commits are atomic at the metadata
level: the version-hint/metadata.json swap is the last step, so a
crash mid-write leaves the previous snapshot current (orphaned files,
never a corrupt table).
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import SparkSession

from ..sources.base import WriteDisposition
from ..sources.iceberg import IcebergFixtureWriter, IcebergTable
from .builder import PackageResult
from .ledger import Receipt, verify_frame


class IcebergDestination:
    """An Iceberg-table destination speaking the commit protocol —
    drop-in peer of ParquetDestination / DuckDbDestination (same
    commit/verify surface, same Receipt), so LoadPipeline and
    StreamingLoadPipeline can land state in an open table format."""

    def __init__(
        self,
        table_path: str | Path,
        merge_keys: list[str] | None = None,
        max_commit_retries: int = 5,
        partition_by: list | None = None,
        stage_branch: str | None = None,
        merge_mode: str = "equality",
    ):
        """`partition_by` seeds the spec when the destination CREATES
        the table: column names (identity) or transform tuples/lists —
        ("bucket", 4, "col"), ("truncate", 3, "col"), ("year"|"month"|
        "day", "col") — the same vocabulary as `IcebergFixtureWriter`.
        An EXISTING table's spec always wins (rehydrated from its own
        metadata; redeclaring a different spec is a no-op, never a
        rewrite).

        `stage_branch` turns the commit/verify protocol into
        WRITE-AUDIT-PUBLISH: commit() stages the package on that
        branch ref (main readers never see it), verify() audits the
        BRANCH read and — only on success — fast-forwards main to the
        staged snapshot. A failed verification leaves main untouched
        with the bad data quarantined on the branch for inspection,
        instead of already-committed. APPEND only (a staged
        REPLACE/MERGE would need branch-aware delete scoping).

        `merge_mode` picks the delete representation MERGE writes:
        'equality' (default) commits the batch's keys as an
        equality-delete file — zero table scan at write, the reader
        pays a sequence-scoped key join (the Flink-CDC upsert shape);
        'position' locates the victims NOW (one key-pruned scan of the
        current snapshot joined against the broadcast batch keys,
        written as positional-delete files by the executors) — the
        shape Spark's and Trino's MERGE INTO write, cheaper for every
        subsequent reader (a broadcast (file,pos) anti-join instead of
        per-key equality resolution) and exactly what
        RewritePositionDeleteFiles maintenance compacts. Flat tables
        only; a partitioned position-merge refuses (equality mode
        covers partitioned tables with scoped delete files)."""
        if merge_mode not in ("equality", "position"):
            raise ValueError(f"unknown merge_mode {merge_mode!r}")
        self.merge_mode = merge_mode
        self.table_path = Path(table_path)
        self.merge_keys = merge_keys or []
        self.max_commit_retries = max_commit_retries
        self.partition_by = [
            tuple(e) if isinstance(e, (list, tuple)) else e for e in (partition_by or [])
        ]
        self.stage_branch = stage_branch

    def commit(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        """Commit with optimistic-concurrency RETRY: the metadata
        version number is the CAS token (O_EXCL create in
        `IcebergFixtureWriter._write_metadata`); a loser detects the
        concurrent winner, discards its writer state, REHYDRATES the
        table (picking up the winner's snapshot as the new parent), and
        redoes the commit — so two racing committers serialize, the
        final table equals one of the serial orders, and history never
        forks. The loser's already-copied data files become orphans
        (never referenced — same posture as a crash mid-commit); only
        the metadata swap decides visibility. Mirrors the falsify-
        under-chaos discipline of the reference's conformance suites
        (`crates/cdf-conformance/src/lib.rs:3-16`)."""
        from ..sources.iceberg import IcebergError

        attempt = 0
        while True:
            try:
                return self._commit_once(spark, package, disposition)
            except IcebergError as exc:
                if "concurrent commit" not in str(exc) or attempt >= self.max_commit_retries:
                    raise
                attempt += 1
                time.sleep(0.02 * attempt)  # tiny backoff, then re-race

    def _commit_once(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition,
    ) -> Receipt:
        segments = package.segments()
        # declared partition_by seeds a NEW table's spec; an existing
        # table rehydrates its own spec over it (existing wins)
        w = IcebergFixtureWriter(self.table_path, partition_by=self.partition_by)
        if self.stage_branch is not None:
            if disposition is not WriteDisposition.APPEND:
                raise ValueError(
                    "stage_branch supports APPEND only — a staged "
                    f"{disposition.value} would need branch-aware delete scoping"
                )
            # first-ever commit: nothing to fork from — land on main
            # directly (an empty table has no audited state to protect)
            if w._snapshots:
                if w.partition_by:
                    w.append(spark.read.parquet(package.data_path()), branch=self.stage_branch)
                else:
                    w.append_files(segments, branch=self.stage_branch)
                return Receipt.issue(
                    package, disposition, f"iceberg://{self.table_path}@{self.stage_branch}"
                )
        if w.partition_by:
            # partitioned table (spec rehydrated from metadata): commit
            # through the partition-splitting write path so entries
            # carry their typed partition tuples — the copy fast path
            # would land tuple-less entries that disable pruning
            df = spark.read.parquet(package.data_path())
            if disposition is WriteDisposition.APPEND:
                w.append(df)
            elif disposition is WriteDisposition.REPLACE:
                w.overwrite(df)
            elif disposition is WriteDisposition.MERGE:
                if not self.merge_keys:
                    raise ValueError("merge disposition requires merge_keys")
                if self.merge_mode == "position":
                    raise ValueError(
                        "merge_mode='position' supports flat tables only — "
                        "partitioned MERGE uses equality mode (partition-"
                        "scoped equality-delete files)"
                    )
                # ONE snapshot: partition-split data files + the
                # batch's equality-delete key files (partition-scoped
                # when the spec's source columns are merge keys,
                # global otherwise); key rows and data rows both stay
                # on executors — same no-driver-collect discipline as
                # the flat path below
                w.upsert(df, self.merge_keys)
            else:
                raise ValueError(
                    f"disposition {disposition} not supported by IcebergDestination"
                )
        elif disposition is WriteDisposition.APPEND:
            w.append_files(segments)
        elif disposition is WriteDisposition.REPLACE:
            w.replace_files(segments)
        elif disposition is WriteDisposition.MERGE and self.merge_mode == "position":
            if not self.merge_keys:
                raise ValueError("merge disposition requires merge_keys")
            # positional-delete MERGE — the commit shape Spark's and
            # Trino's MERGE INTO write: victims are located NOW by a
            # null-safe semi-join of the CURRENT snapshot (scanned with
            # row addresses, column-pruned to the merge keys +
            # _file/_pos by Catalyst) against the BROADCAST batch keys,
            # and the (file, pos) rows are written to parquet BY THE
            # EXECUTORS — victim rows never pass through the driver
            # (same discipline as the equality path; falsified by the
            # raising-collect test). Write-side cost is one key-pruned
            # table scan per merge batch; every subsequent read gets a
            # broadcast (file,pos) anti-join instead of per-key
            # equality resolution, and RewritePositionDeleteFiles
            # compacts the accreted delete files.
            import shutil
            import tempfile
            from functools import reduce

            from pyspark.sql import functions as F

            if not w._snapshots:
                # merge into an empty table is a pure insert
                w.append_files(segments)
            else:
                keys_df = (
                    spark.read.parquet(package.data_path())
                    .select(*self.merge_keys)
                    .distinct()
                    .alias("k")
                )
                # STATS-PRUNED victim scan (r10, same idea as the Hudi
                # routing prune): the victim semi-join is a JOIN, so
                # Catalyst cannot push the batch's key range into the
                # scan — but the manifest column bounds can prune files
                # that provably cannot hold any batch key. One tiny agg
                # for the batch bounds, then the existing
                # `data_files_pruned` machinery (conservative: files
                # without bounds stay; a null batch key disables the
                # prune on that column since bounds cannot see nulls).
                t_read = IcebergTable(self.table_path)
                victim_files = None
                try:
                    from ..expressions.ast import Binary, Col, Lit

                    b = spark.read.parquet(package.data_path()).agg(
                        *[
                            F.min(F.col(k)).alias(f"_mn_{i}")
                            for i, k in enumerate(self.merge_keys)
                        ],
                        *[
                            F.max(F.col(k)).alias(f"_mx_{i}")
                            for i, k in enumerate(self.merge_keys)
                        ],
                        *[
                            F.sum(F.col(k).isNull().cast("long")).alias(f"_nl_{i}")
                            for i, k in enumerate(self.merge_keys)
                        ],
                    ).collect()[0]
                    preds = []
                    for i, k in enumerate(self.merge_keys):
                        if b[f"_nl_{i}"] or b[f"_mn_{i}"] is None:
                            continue
                        preds.append(Binary("ge", Col(k), Lit(b[f"_mn_{i}"])))
                        preds.append(Binary("le", Col(k), Lit(b[f"_mx_{i}"])))
                    if preds:
                        kept, _ev = t_read.data_files_pruned(
                            t_read.current_snapshot_id(), preds
                        )
                        victim_files = kept
                except Exception:  # noqa: BLE001 — pruning is an optimization only
                    victim_files = None
                if victim_files is not None and not victim_files:
                    # every live file bounds-excluded: no victims, no
                    # scan at all — the merge is a pure insert
                    victims = spark.createDataFrame(
                        [], "file_path string, pos long"
                    )
                else:
                    cur = (
                        t_read.read(spark, _keep_meta=True, _files=victim_files)
                        .select(*self.merge_keys, "_file", "_pos")
                        .alias("c")
                    )
                    # null-safe key match — equality-mode deletes treat
                    # NULL keys as equal (spec semantics); position mode
                    # must kill the same rows
                    cond = reduce(
                        lambda a, b: a & b,
                        [
                            F.col(f"c.{k}").eqNullSafe(F.col(f"k.{k}"))
                            for k in self.merge_keys
                        ],
                    )
                    victims = cur.join(
                        F.broadcast(keys_df), on=cond, how="left_semi"
                    ).select(F.col("_file").alias("file_path"), F.col("_pos").alias("pos"))
                tmp = tempfile.mkdtemp(prefix="iceberg_pos_deletes_")
                try:
                    victims.write.mode("overwrite").parquet(tmp)
                    delete_files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
                    w.merge_pos_delete_files(segments, delete_files)
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
        elif disposition is WriteDisposition.MERGE:
            if not self.merge_keys:
                raise ValueError("merge disposition requires merge_keys")
            # the equality-delete key file is written DISTRIBUTIVELY —
            # key rows never pass through the driver (a 100M-row CDC
            # batch with mostly-unique keys must not OOM control; the
            # reference's destination protocol never moves row data
            # through control either,
            # crates/cdf-kernel/src/destination.rs:370-410). The
            # manifest entries need only path/record_count/size, read
            # from the written files' footers.
            import shutil
            import tempfile

            tmp = tempfile.mkdtemp(prefix="iceberg_merge_keys_")
            try:
                spark.read.parquet(package.data_path()).select(
                    *self.merge_keys
                ).distinct().write.mode("overwrite").parquet(tmp)
                key_files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
                w.upsert_files(segments, key_files, self.merge_keys)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise ValueError(f"disposition {disposition} not supported by IcebergDestination")
        return Receipt.issue(package, disposition, f"iceberg://{self.table_path}")

    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        if self.stage_branch is not None and receipt.destination.endswith(
            f"@{self.stage_branch}"
        ):
            # WAP audit: verify the BRANCH read, publish only on pass.
            # Main is untouched either way until the fast-forward.
            t = IcebergTable(self.table_path)
            df = t.read(spark, tag=self.stage_branch)
            staged = spark.read.parquet(package.data_path())
            # every staged row must be present on the branch (multiset)
            ok = staged.exceptAll(df.select(*staged.columns)).isEmpty()
            receipt.verified = bool(ok)
            if receipt.verified:
                t.fast_forward(self.stage_branch)
            return receipt
        return verify_frame(spark, receipt, package, lambda: self.read(spark), self.merge_keys)

    def read(self, spark: SparkSession):
        """The merge-on-read resolved current state — exactly what any
        external Iceberg reader would see."""
        return IcebergTable(self.table_path).read(spark)

    def compact(self, spark: SparkSession, target_files: int = 8) -> dict:
        """Maintenance: rewrite the current state into `target_files`
        files as one overwrite snapshot — the small-file remedy for
        per-epoch streaming commits (every micro-batch lands one-plus
        files; readers pay per-file open cost forever without this).
        Delete files are resolved INTO the rewrite, so the compacted
        snapshot reads without any merge-on-read work. History stays:
        pre-compaction snapshots still time-travel; expire_snapshots
        reclaims them when retention allows."""
        import shutil
        import tempfile

        t = IcebergTable(self.table_path)
        before_files = len(t.files_for_snapshot(t.current_snapshot_id()))
        current = t.read(spark)
        tmp = tempfile.mkdtemp(prefix="iceberg_compact_")
        try:
            current.repartition(target_files).write.mode("overwrite").parquet(tmp)
            files = sorted(str(p) for p in Path(tmp).glob("*.parquet"))
            w = IcebergFixtureWriter(self.table_path)
            w.replace_files(files)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        after = IcebergTable(self.table_path)
        return {
            "files_before": before_files,
            "files_after": len(after.files_for_snapshot(after.current_snapshot_id())),
        }
