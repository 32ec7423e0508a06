"""Watermark policies over arbitrary ordered domains.

Re-expresses the reference's watermark machinery
(`WatermarkPolicy` `crates/cdf-kernel/src/execution_extent.rs:282-325`;
claims `:643-660`; runtime `crates/cdf-runtime/src/watermark.rs:1-908`;
partition aggregation `:420-441`):

- Watermarks are typed monotone claims over an event-domain column —
  not just timestamps: signed/unsigned ints, decimals, dates and
  timestamps all qualify. Spark's `withWatermark` only speaks
  timestamps, so non-timestamp domains ride on engine-side state (a
  ledger), with the same monotonicity guarantees.
- The global watermark is the MINIMUM over partition watermarks; idle
  partitions may be excluded only under an explicit idleness policy
  (`MinimumEligible{idle_after}` — source-proven idleness).
- Watermarks only advance (monotone); regressions are clamped and
  recorded as evidence.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUPPORTED_DOMAINS = ("timestamp", "timestamp_ntz", "date", "bigint", "int", "decimal", "double")


@dataclass
class WatermarkPolicy:
    """Declared watermark over an event column with a lateness bound.

    ``delay`` is in the column's own domain units: seconds for
    timestamps/dates, plain numbers for numeric domains.
    """

    column: str
    delay: float = 0.0
    combine: str = "minimum_all"  # minimum_all | minimum_eligible
    idle_after_ms: int | None = None  # for minimum_eligible

    def __post_init__(self):
        if self.combine not in ("minimum_all", "minimum_eligible"):
            raise ValueError(f"unknown combine policy {self.combine!r}")
        if self.combine == "minimum_eligible" and self.idle_after_ms is None:
            raise ValueError("minimum_eligible requires idle_after_ms")


def frontier_from_max(max_value, dtype: str, policy: WatermarkPolicy):
    """max(event_col) - delay: the candidate watermark a batch whose
    event column (Spark type string `dtype`) peaks at `max_value`
    supports. None when the column held no value."""
    if max_value is None:
        return None
    if dtype.startswith(("timestamp", "date")):
        import datetime

        return max_value - datetime.timedelta(seconds=policy.delay)
    return max_value - policy.delay


def observed_frontier(df: DataFrame, policy: WatermarkPolicy):
    """The candidate watermark `df` supports, from one 1-row aggregate
    job. For a standalone frame; the streaming epoch instead observes
    the max on its package's data write and calls `frontier_from_max`."""
    dt = dict(df.dtypes).get(policy.column)
    if dt is None:
        raise KeyError(f"watermark column {policy.column!r} missing")
    mx = df.agg(F.max(policy.column).alias("m")).collect()[0].m
    return frontier_from_max(mx, dt, policy)


def combine_partition_watermarks(
    partition_marks: dict[str, tuple[object, int]],
    policy: WatermarkPolicy,
    now_ms: int | None = None,
):
    """Global watermark from per-partition (value, last_advance_ms).

    minimum_all: min over every partition (a stalled partition halts
    the watermark — the safe default).
    minimum_eligible: partitions idle longer than idle_after_ms are
    excluded, so one dead shard can't freeze progress; exclusion is an
    explicit, recorded decision (reference: source-proven idleness
    claims, execution_extent.rs:420-441).
    """
    if not partition_marks:
        return None
    now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    values = []
    for _pid, (value, last_ms) in partition_marks.items():
        if value is None:
            continue
        if policy.combine == "minimum_eligible" and now_ms - last_ms > (policy.idle_after_ms or 0):
            continue  # idle partition excluded by policy
        values.append(value)
    if not values:
        # every partition idle/unknown: fall back to minimum_all
        values = [v for v, _ in partition_marks.values() if v is not None]
    return min(values) if values else None


class WatermarkLedger:
    """Durable monotone watermark state per (resource, column).

    JSON-file backed (object-store JSON next to the checkpoint ledger
    in production). Regressions clamp to the stored value and are
    recorded in the history, mirroring the reference's claim log.
    """

    def __init__(self, root: str | Path, resource_id: str):
        self.path = Path(root) / f"{resource_id}.watermarks.json"
        self.state: dict = {"marks": {}, "history": []}
        if self.path.exists():
            self.state = json.loads(self.path.read_text())

    def current(self, column: str):
        entry = self.state["marks"].get(column)
        return None if entry is None else entry["value"]

    def advance(self, column: str, candidate) -> object:
        """Monotone advance; returns the effective watermark."""
        cur = self.current(column)
        cand = _to_jsonable(candidate)
        if cur is None or (cand is not None and cand > cur):
            effective, clamped = cand, False
        else:
            effective, clamped = cur, True
        self.state["marks"][column] = {"value": effective, "advanced_at_ms": int(time.time() * 1000)}
        self.state["history"].append(
            {"column": column, "candidate": cand, "effective": effective, "clamped": clamped}
        )
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(self.state, default=str))
        tmp.replace(self.path)
        return effective


def _to_jsonable(v):
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def parse_stored_watermark(value, dtype: str):
    """Rehydrate a ledger value for comparison against a column."""
    import datetime

    if value is None:
        return None
    if dtype.startswith("timestamp"):
        return datetime.datetime.fromisoformat(value) if isinstance(value, str) else value
    if dtype == "date":
        return datetime.date.fromisoformat(value) if isinstance(value, str) else value
    return value
