"""Late-data classification: recapture / quarantine / admit-annotated.

Re-expresses the reference's late-data machinery
(`LateDataAction`, `crates/cdf-kernel/src/execution_extent.rs:613-617`;
`classify_late_data`, `crates/cdf-engine/src/late_data.rs:22-110`):
rows whose event time is ≤ the resource's current watermark are not
silently dropped (Spark's default) — they are split per declared
action with row-level evidence:

  recapture   carried over to the next epoch (LateDataCarryoverRef)
  quarantine  routed to the quarantine segment
  annotate    admitted with `_cdf_late=true`

The watermark is an explicit value (from the watermark ledger /
streaming state), not wall clock, and may live in a non-timestamp
domain (ints, decimals — `execution_extent.rs:282-325`): the
comparison is plain `col <= lit(watermark)` so any ordered type works.
"""

from __future__ import annotations

import shutil
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..contracts.evaluator import VERDICT_COL, VERDICT_QUARANTINE, VIOLATIONS_COL
from ..package.stats import parquet_row_count
from ..plans.checkpoint import observed_get

LATE_COL = "_cdf_late"


@dataclass
class LateDataSplit:
    on_time: DataFrame
    recaptured: DataFrame | None
    quarantined: DataFrame | None
    admitted_annotated: DataFrame  # on-time ∪ (late if action=annotate), with _cdf_late
    observation: Observation | None = None  # late-row count over every classified row

    def observed_late_count(self) -> int | None:
        """Late-row count captured by the first action over any frame
        of this split (the CollectMetrics node sits below the on-time
        filter, so every classified row passes through it). ONLY call
        after such an action; the wait is bounded by `observed_get`.
        Returns None when no observation is attached."""
        if self.observation is None:
            return None
        return int(observed_get(self.observation)["late_rows"])

    def quarantine_evidence(self) -> DataFrame:
        """The late rows in the contract's quarantine shape: verdict
        `quarantine`, violation `late_data` — evidence that joins the
        package's quarantine segment, not a drop."""
        return (
            self.quarantined.drop(LATE_COL)
            .withColumn(VERDICT_COL, F.lit(VERDICT_QUARANTINE))
            .withColumn(VIOLATIONS_COL, F.array(F.lit("late_data")))
        )

    def persist_recaptured(self, carryover_dir: Path) -> int:
        """Replace the carryover set at `carryover_dir` with this
        split's recaptured rows (the previous set was unioned into the
        classified frame by the caller); returns their count, read
        from the written footers."""
        staging = carryover_dir.with_name(carryover_dir.name + ".staging")
        self.recaptured.write.mode("overwrite").parquet(str(staging))
        rows = parquet_row_count(staging)
        if carryover_dir.exists():
            shutil.rmtree(carryover_dir)
        staging.rename(carryover_dir)
        return rows


def classify_late_data(
    df: DataFrame,
    event_col: str,
    watermark_value,
    action: str = "annotate",  # recapture | quarantine | annotate
) -> LateDataSplit:
    """Split rows on `event_col <= watermark_value` per the action.

    ``watermark_value`` may be a scalar (the stored ledger value) or a
    Column already present on ``df`` (e.g. a broadcast-joined 1-row
    aggregate) — the Column form keeps a derived watermark inside one
    lazy plan instead of forcing a driver-side collect.

    ``action="quarantine"`` attaches a CollectMetrics node counting late
    rows (read with `LateDataSplit.observed_late_count`), so a pipeline
    learns the count from the package write instead of a `count()`."""
    if action not in ("recapture", "quarantine", "annotate"):
        raise ValueError(f"unknown late-data action {action!r}")

    from pyspark.sql import Column

    wm = watermark_value if isinstance(watermark_value, Column) else F.lit(watermark_value)
    is_late = F.col(event_col) <= wm
    annotated = df.withColumn(LATE_COL, F.coalesce(is_late, F.lit(False)))
    obs = None
    if action == "quarantine":
        obs = Observation(f"late-rows-{uuid.uuid4().hex[:8]}")
        annotated = annotated.observe(obs, F.count_if(F.col(LATE_COL)).alias("late_rows"))
    on_time = annotated.filter(~F.col(LATE_COL))
    late = annotated.filter(F.col(LATE_COL))

    if action == "recapture":
        return LateDataSplit(
            on_time=on_time.drop(LATE_COL),
            recaptured=late.drop(LATE_COL),
            quarantined=None,
            admitted_annotated=on_time,
        )
    if action == "quarantine":
        return LateDataSplit(
            on_time=on_time.drop(LATE_COL),
            recaptured=None,
            quarantined=late,
            admitted_annotated=on_time,
            observation=obs,
        )
    return LateDataSplit(
        on_time=on_time.drop(LATE_COL),
        recaptured=None,
        quarantined=None,
        admitted_annotated=annotated,
    )
