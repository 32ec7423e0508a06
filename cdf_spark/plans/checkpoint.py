"""Release helper for eager localCheckpoint chains.

Iterative operators (connected-components label propagation, Lloyd
refinement) truncate per-round lineage with
``df.localCheckpoint(eager=True)``. Truncation fixes plan accretion,
but each round's checkpoint blocks stay pinned in executor storage for
the life of the session unless explicitly dropped — a leak for
long-running jobs that repeat these operators (each round holds a full
copy of the working set).

``release_local_checkpoint`` frees a round's blocks once the NEXT
round's checkpoint is materialized. Ordering is load-bearing: the
lineage is gone, so a released checkpoint can never be recomputed —
anything still reading it fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
Callers must release strictly behind the materialization frontier.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation

#: Estimated-source-bytes gate under which an eager in-session pin is
#: skipped (the plan stays lazy). An eager localCheckpoint costs a
#: synchronous driver round-trip + a store/re-read barrier; at small
#: scale that fixed cost exceeds the duplicate lineage it avoids (the
#: r14 driver record: funnel_view_click_purchase 0.48x and
#: cohort_retention_weekly 0.57x after unconditional pins). At corpus
#: scale the duplicate lineage is a full re-scan per consumer and the
#: pin wins. Set to 0 to force pinning (plan-guard tests), or huge to
#: force the lazy shape.
PIN_GATE_CONF = "spark.cdf.pin.minSourceBytes"
PIN_GATE_DEFAULT = 256 * 1024 * 1024


def pin_worthwhile(source: DataFrame) -> bool:
    """True when `source`'s estimated scan size is above the pin gate
    — i.e. re-deriving work over it once per consumer costs more than
    one synchronous eager-checkpoint job (guide §5 "caching").

    Unknown statistics (Long.MaxValue sentinel) return False — the
    conservative lazy shape. A gate that is not an integer raises."""
    raw = source.sparkSession.conf.get(PIN_GATE_CONF, str(PIN_GATE_DEFAULT))
    try:
        gate = int(raw)
    except ValueError:
        raise ValueError(f"{PIN_GATE_CONF}={raw!r} is not an integer byte count") from None
    if gate <= 0:
        return True
    try:
        est = int(str(source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # noqa: BLE001 — stats access is best-effort
        return False
    return gate <= est < (1 << 62)


def pin_if_expensive(df: DataFrame, source: DataFrame) -> DataFrame:
    """Eagerly pin a multi-consumer intermediate when its SOURCE scan
    is expensive (see `pin_worthwhile`); below the gate the lazy plan
    survives untouched."""
    return df.localCheckpoint(eager=True) if pin_worthwhile(source) else df


def observed_get(obs: Observation, timeout_s: float = 300.0) -> dict:
    """`Observation.get` with a deadline and a loud diagnostic.

    The observe-on-checkpoint pattern (r14 §9.3) relies on Observation
    metrics firing during `localCheckpoint(eager=True)`
    materialization. `Observation.get` itself waits FOREVER; if a
    future Spark stops routing checkpoint materialization through the
    QueryExecutionListener path, every call site would hang silently.
    Polling the non-blocking JVM accessor with a deadline turns that
    into a diagnosable failure instead. A failing accessor raises too,
    rather than falling back to the blocking get."""
    name = obs._name or "<unnamed>"
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            defined = obs._jo.getRowOrEmpty().isDefined()
        except Exception as exc:  # noqa: BLE001 — any accessor failure is fatal
            raise RuntimeError(f"Observation {name!r}: metrics accessor failed: {exc}") from exc
        if defined:
            return obs.get
        if time.monotonic() > deadline:
            raise RuntimeError(
                f"Observation {name!r}: metrics did not fire within {timeout_s}s — "
                "the observed action (typically an eager localCheckpoint) either "
                "never ran or this Spark no longer reports metrics for it"
            )
        time.sleep(0.01)


def pinned_scalars(
    df: DataFrame,
    aggs: list[Column],
    source: DataFrame | None = None,
    timeout_s: float = 300.0,
) -> tuple[DataFrame, dict]:
    """Materialize `df` with scalar aggregates riding along — pin-gated.

    Above the gate (or with no `source` given): eagerly checkpoint
    `df` with the aggregates attached as OBSERVED metrics (zero extra
    jobs — the r14 §9.3 pattern). Below it: leave `df` lazy and learn
    the scalars from one bounded aggregate job (the pre-pin shape).
    Either way the scalars are computed by the same expressions over
    the same rows."""
    if source is None or pin_worthwhile(source):
        obs = Observation()
        out = df.observe(obs, *aggs).localCheckpoint(eager=True)
        return out, observed_get(obs, timeout_s)
    row = df.agg(*aggs).first()
    return df, row.asDict()


def release_local_checkpoint(df: DataFrame) -> bool:
    """Drop the executor-storage blocks behind an eagerly
    localCheckpoint-ed DataFrame. Returns True when blocks were
    released, False when the plan wasn't a bare checkpoint scan (or the
    py4j surface didn't cooperate) — in that case nothing is freed and
    nothing breaks; the blocks just stay until session end as before.

    Only the DataFrame RETURNED by ``localCheckpoint`` qualifies: its
    logical plan is a ``LogicalRDD`` whose ``rdd()`` is the block-backed
    RDD. Derived frames (selects/joins over it) don't expose the handle.
    """
    try:
        plan = df._jdf.queryExecution().logical()
        if not plan.getClass().getName().endswith("LogicalRDD"):
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:  # noqa: BLE001 — best-effort; never fail the job over cleanup
        return False
