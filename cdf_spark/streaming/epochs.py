"""Execution extents.

Re-expresses `ExecutionExtent::{Bounded, Drain, Resident}`
(`crates/cdf-kernel/src/execution_extent.rs:20-33`) on Structured
Streaming:

  Bounded   -> plain batch read (`runtime.LoadPipeline`)
  Drain     -> Trigger.AvailableNow: runs to the source frontier, stops
  Resident  -> Trigger.ProcessingTime (continuous micro-batches)

An *epoch* is the engine's commit unit. In Spark it maps onto the
micro-batch: each foreachBatch invocation carries (batch_df, epoch_id).
Spark's trigger decides where an epoch ends; the stream reader's
options (e.g. `maxFilesPerTrigger`) bound its size.
"""

from __future__ import annotations

from enum import Enum


class StreamExtent(str, Enum):
    BOUNDED = "bounded"
    DRAIN = "drain"
    RESIDENT = "resident"
