"""Streaming load pipeline: Structured Streaming + the CDF commit path.

Each micro-batch (epoch) is one transactional unit with an auditable
package, run inside `foreachBatch` through the same load chain as a
bounded load (`runtime.build_package` and `runtime.deliver_package`).
What this module adds around that chain:

  replay guard  an epoch whose checkpoint already exists is skipped
                (the restart after a crash between the sink commit and
                Spark's offset commit)
  frontier      max(watermark column) is observed on the raw batch and
                rides the package's data write (no separate max() job);
                the late split reads the watermark ledger's value
  advance       the watermark moves to the observed frontier only after
                delivery returns; an unverified receipt raises from the
                checkpoint advance, the query fails and Spark does not
                commit the offset, so the epoch is replayed

Why engine-side watermarks instead of `withWatermark`: Spark's
watermark silently DROPS late rows and only supports timestamps; the
reference requires late rows to be recaptured / quarantined /
annotated as evidence, over any ordered domain
(`crates/cdf-engine/src/late_data.rs:22-110`). We therefore keep the
stream un-watermarked and split per epoch against the ledger value.

Extents (`epochs.StreamExtent`):
  DRAIN    -> Trigger(availableNow=True), runs to the frontier, stops
  RESIDENT -> Trigger(processingTime=interval), runs until stopped

File-source caveat (measured, Spark 4.x): CONTINUOUS discovery lists
only flat files in the watched directory, while availableNow's initial
listing also recurses into subdirectories — a resident stream over a
dir of per-batch SUBDIRS silently sees nothing. Land each batch as a
flat file (write to a staging dir, move the part file in).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..contracts.policy import Contract
from ..package.ledger import CheckpointLedger
from ..plans.checkpoint import observed_get
from ..runtime import Trace, build_package, deliver_package
from ..sources.base import ResourceDescriptor, WriteDisposition
from .epochs import StreamExtent
from .watermark import (
    WatermarkLedger,
    WatermarkPolicy,
    frontier_from_max,
    parse_stored_watermark,
)


@dataclass
class EpochResult:
    epoch_id: int
    rows_admitted: int
    rows_quarantined: int
    rows_late: int
    package_id: str | None
    receipt_verified: bool
    watermark_after: object = None


@dataclass
class StreamingLoadPipeline:
    descriptor: ResourceDescriptor
    source_path: str
    schema: object  # pyspark StructType for the stream reader
    contract: Contract | None = None
    watermark: WatermarkPolicy | None = None
    late_action: str = "quarantine"
    package_root: str = "/tmp/cdf_stream_packages"
    ledger_root: str = "/tmp/cdf_stream_ledger"
    # any destination speaking the commit protocol (commit/verify):
    # ParquetDestination, TombstoneParquetDestination, DuckDbDestination,
    # DbApiDestination
    destination: object | None = None
    disposition: WriteDisposition = WriteDisposition.APPEND
    extent: StreamExtent = StreamExtent.DRAIN
    # Trigger.ProcessingTime interval for a RESIDENT extent
    trigger_interval: str = "10 seconds"
    source_format: str = "parquet"
    # options for the stream reader (e.g. maxFilesPerTrigger to bound
    # epoch size for file sources)
    reader_options: dict = field(default_factory=dict)

    # run auto-maintenance on the destination's table every N verified
    # epochs (0 = off): per-epoch streaming commits are exactly the
    # workload that accretes small files/tombstones, and dataChange=
    # false maintenance commits never disturb downstream incremental
    # consumers. Policy = package.maintenance.MaintenancePolicy.
    maintenance_every_epochs: int = 0
    maintenance_policy: object | None = None
    maintenance_reports: list[dict] = field(default_factory=list)

    epochs: list[EpochResult] = field(default_factory=list)

    def _process_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        desc = self.descriptor
        wm_ledger = WatermarkLedger(self.ledger_root, desc.resource_id)
        ck_ledger = CheckpointLedger(self.ledger_root)

        # exactly-once across restarts: after a crash between the sink
        # commit and Spark's offset commit, the restarted query replays
        # the batch under the SAME epoch id — the checkpoint ledger
        # already holds its verified receipt, so the replay is skipped
        # (recorded with package_id=None as the replay signature)
        if self.destination is not None and ck_ledger.epoch_committed(
            desc.resource_id, epoch_id
        ):
            self.epochs.append(
                EpochResult(
                    epoch_id=epoch_id,
                    rows_admitted=0,
                    rows_quarantined=0,
                    rows_late=0,
                    package_id=None,
                    receipt_verified=True,
                )
            )
            return

        df = batch_df
        wm_obs = None
        wm_value = None
        if self.watermark is not None:
            wm_dtype = dict(batch_df.dtypes)[self.watermark.column]
            # the frontier this batch supports rides the package's data
            # write: a CollectMetrics node at the bottom of the plan sees
            # every batch row, so no separate max() job is run
            wm_obs = Observation(f"wm-frontier-{uuid.uuid4().hex[:8]}")
            df = df.observe(wm_obs, F.max(self.watermark.column).alias("max"))
            current = wm_ledger.current(self.watermark.column)
            if current is not None:
                wm_value = parse_stored_watermark(current, wm_dtype)

        trace = Trace()
        package, rows_late, _ = build_package(
            df, desc, self.package_root, trace=trace, contract=self.contract,
            watermark_column=self.watermark.column if self.watermark else None,
            watermark_value=wm_value, late_action=self.late_action,
            carryover_dir=Path(self.ledger_root) / "carryover" / desc.resource_id,
        )
        receipt, _ = deliver_package(
            spark, package, self.destination, self.disposition, ck_ledger,
            cursor_field=desc.cursor.field if desc.cursor else None,
            positions={"epoch": epoch_id}, trace=trace,
        )
        receipt_verified = receipt is not None and receipt.verified

        # reached only once the epoch is delivered (an unverified receipt
        # raised above), so the watermark never passes replayable rows
        wm_after = None
        if wm_obs is not None:
            frontier = frontier_from_max(observed_get(wm_obs)["max"], wm_dtype, self.watermark)
            if frontier is not None:
                wm_after = wm_ledger.advance(self.watermark.column, frontier)

        self.epochs.append(
            EpochResult(
                epoch_id=epoch_id,
                rows_admitted=package.rows_admitted,
                rows_quarantined=package.rows_quarantined,
                rows_late=rows_late,
                package_id=package.package_id,
                receipt_verified=receipt_verified,
                watermark_after=wm_after,
            )
        )

        if (
            self.maintenance_every_epochs
            and receipt_verified
            and len([e for e in self.epochs if e.receipt_verified])
            % self.maintenance_every_epochs
            == 0
        ):
            table_path = getattr(self.destination, "table_path", None)
            if table_path is not None:
                from ..package.maintenance import run_maintenance

                self.maintenance_reports.append(
                    run_maintenance(spark, table_path, self.maintenance_policy)
                )

    def run(self, spark: SparkSession, checkpoint_dir: str | None = None):
        """Start the stream. DRAIN blocks until the frontier is reached
        and returns the epoch results; RESIDENT returns the live query
        handle (caller stops it)."""
        reader = (
            spark.readStream.format(self.source_format)
            .schema(self.schema)
            .options(**{k: str(v) for k, v in self.reader_options.items()})
            .load(self.source_path)
        )
        checkpoint_dir = checkpoint_dir or str(Path(self.ledger_root) / "spark_checkpoints" / self.descriptor.resource_id)

        writer = (
            reader.writeStream.foreachBatch(self._process_epoch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if self.extent is StreamExtent.DRAIN:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return self.epochs
        if self.extent is StreamExtent.RESIDENT:
            q = writer.trigger(processingTime=self.trigger_interval).start()
            return q
        raise ValueError("BOUNDED extent uses runtime.LoadPipeline, not the stream path")

