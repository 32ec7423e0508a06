"""Vectorized contract evaluation: rules -> verdict columns -> splits.

Re-expresses the reference's contract evaluator
(`crates/cdf-contract/src/evaluator.rs:1-895`, vector kernels
`crates/cdf-contract/src/vector.rs:1-1136`) on Spark: every rule
lowers to a boolean *violation* Column (JVM-side, whole-stage
codegen'd — no Python in the row path), the per-row verdict is the
lattice max across violated rules' dispositions, and the batch splits
into admitted / quarantined DataFrames plus a verdict summary
(`VerdictSummary`, `orchestration.rs:24-31`).

Output columns:
  _cdf_verdict      pass | freeze | quarantine
  _cdf_violations   array<string> of rule names that fired

At 100 TB this is one projection + one filter pair over the scan —
no shuffle; the only aggregate is the verdict summary, which is a
map-side-combined groupBy over a 3-value key.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..expressions.lowering import lower
from ..plans.checkpoint import observed_get
from ..types.arrow_types import parse_arrow_type
from .policy import (
    VERDICT_FREEZE,
    VERDICT_PASS,
    VERDICT_QUARANTINE,
    VERDICT_RANK,
    CastT,
    Contract,
    DedupRule,
    DeriveT,
    DomainRule,
    ExpandNestedT,
    ExprRule,
    FilterT,
    FreshnessRule,
    NullabilityRule,
    RangeRule,
    RedactT,
    RegexRule,
    RenameT,
    Rule,
)

VERDICT_COL = "_cdf_verdict"
VIOLATIONS_COL = "_cdf_violations"


def _violation_column(rule: Rule, as_of: datetime | None) -> Column:
    """True where the rule is violated."""
    if isinstance(rule, NullabilityRule):
        return F.col(rule.column).isNull()
    if isinstance(rule, DomainRule):
        return ~F.col(rule.column).isin(rule.allowed) | F.col(rule.column).isNull()
    if isinstance(rule, RangeRule):
        c = F.col(rule.column)
        cond = F.lit(False)
        if rule.min is not None:
            cond = cond | (c < F.lit(rule.min))
        if rule.max is not None:
            cond = cond | (c > F.lit(rule.max))
        return cond | c.isNull()
    if isinstance(rule, RegexRule):
        c = F.col(rule.column)
        return ~F.regexp_like(c, F.lit(rule.pattern)) | c.isNull()
    if isinstance(rule, FreshnessRule):
        if as_of is None:
            raise ValueError("FreshnessRule requires an explicit as_of instant (determinism)")
        cutoff = F.lit(as_of) - F.expr(f"INTERVAL {rule.max_age_ms // 1000} SECOND")
        c = F.col(rule.column)
        return (c < cutoff) | c.isNull()
    if isinstance(rule, ExprRule):
        if rule.predicate is None:
            raise ValueError("ExprRule requires a predicate")
        # null-safe: only a provably-true predicate admits the row
        return ~lower(rule.predicate).eqNullSafe(F.lit(True))
    if isinstance(rule, DedupRule) and rule.keep == "fail":
        # handled separately (needs a window); placeholder never fires here
        return F.lit(False)
    raise TypeError(f"unsupported rule {type(rule).__name__}")


@dataclass
class ContractResult:
    annotated: DataFrame      # all rows with verdict + violations columns
    admitted: DataFrame       # verdict != quarantine, evidence columns dropped
    quarantined: DataFrame    # verdict == quarantine, evidence retained
    frozen_count_expr: str = VERDICT_FREEZE
    observation: object = None  # pyspark Observation over the full annotated stream

    def observed_quarantine_count(self) -> int | None:
        """Quarantine-row count captured for free by the first action
        that ran over `admitted`/`annotated` (the CollectMetrics node
        sits below the verdict filter, so every contract-evaluated row
        passes through it). ONLY call after such an action; the wait
        is bounded by `observed_get`, and a failing read raises, naming
        the observation. Returns None when no observation is
        attached."""
        if self.observation is None:
            return None
        return int(observed_get(self.observation)["quarantine_rows"])

    def summary(self) -> DataFrame:
        """Verdict summary: counts per verdict (map-side combined)."""
        return (
            self.annotated.groupBy(F.col(VERDICT_COL).alias("verdict"))
            .agg(F.count(F.lit(1)).alias("rows"))
        )

    def rule_summary(self) -> DataFrame:
        """Counts per fired rule."""
        return (
            self.annotated.select(F.explode_outer(VIOLATIONS_COL).alias("rule"))
            .where(F.col("rule").isNotNull())
            .groupBy("rule")
            .agg(F.count(F.lit(1)).alias("rows"))
        )


def apply_transforms(df: DataFrame, contract: Contract) -> tuple[DataFrame, list[DataFrame]]:
    """Apply the ordered transform chain; returns (df, child_tables)."""
    children: list[DataFrame] = []
    for t in contract.transforms:
        if isinstance(t, RenameT):
            df = df.withColumnRenamed(t.from_name, t.to_name)
        elif isinstance(t, CastT):
            target = parse_arrow_type(t.to).spark_type
            col = F.col(t.column)
            if t.lossy_allowed:
                df = df.withColumn(t.column, col.try_cast(target))
            else:
                # Strict cast: under ANSI a plain cast would ABORT the
                # job on the first bad value; the contract semantics
                # are per-row — failed casts mark the row for
                # quarantine (picked up as an implicit rule below).
                failed = col.isNotNull() & col.try_cast(target).isNull()
                df = df.withColumn(f"_cdf_castfail_{t.column}", failed).withColumn(
                    t.column, col.try_cast(target)
                )
        elif isinstance(t, RedactT):
            c = F.col(t.column)
            if t.mode == "hash":
                df = df.withColumn(t.column, F.sha2(c.cast("string"), 256))
            elif t.mode == "mask":
                df = df.withColumn(t.column, F.when(c.isNotNull(), F.lit(t.replacement)))
            elif t.mode == "omit":
                df = df.drop(t.column)
            # preserve: no-op
        elif isinstance(t, DeriveT):
            df = df.withColumn(t.column, lower(t.expression))
        elif isinstance(t, FilterT):
            df = df.filter(lower(t.expression))
        elif isinstance(t, ExpandNestedT):
            order = F.posexplode_outer(F.col(t.column))
            child = (
                df.select(*t.parent_keys, order.alias(t.load_order_column, "_cdf_item"))
                .select(*t.parent_keys, t.load_order_column, "_cdf_item.*")
            )
            children.append(child)
            df = df.drop(t.column)
        else:
            raise TypeError(f"unsupported transform {type(t).__name__}")
    return df, children


def evaluate_contract(
    df: DataFrame,
    contract: Contract,
    as_of: datetime | None = None,
    package_order: list[str] | None = None,
    observe: bool = False,
) -> ContractResult:
    """Run transforms + rules; split per the verdict lattice.

    ``package_order`` orders rows for DedupRule(keep=fail) evidence —
    which rows count as the duplicates (all rows of a key with >1
    occurrence are violations, matching the reference's Fail policy).

    ``observe=True`` attaches a CollectMetrics node counting quarantine
    rows over the full annotated stream, letting the package builder
    skip the quarantine job on clean batches. Pipelines want it; ad-hoc
    queries should leave it off (the metrics evaluation costs ~20% on a
    scan-bound query and is wasted if nobody reads the observation).
    """
    df, _children = apply_transforms(df, contract)

    verdict_rank = F.lit(0)
    viol_names: list[Column] = []

    # implicit rules from strict casts: failed-cast rows quarantine
    castfail_cols = [c for c in df.columns if c.startswith("_cdf_castfail_")]
    for cc in castfail_cols:
        colname = cc[len("_cdf_castfail_"):]
        fired = F.coalesce(F.col(cc), F.lit(False))
        verdict_rank = F.greatest(
            verdict_rank, F.when(fired, F.lit(VERDICT_RANK[VERDICT_QUARANTINE])).otherwise(F.lit(0))
        )
        viol_names.append(F.when(fired, F.lit(f"cast({colname})")))
    # (castfail marker columns are dropped from the annotated output below)
    for rule in contract.rules:
        if isinstance(rule, DedupRule):
            if rule.keep != "fail":
                continue  # first/last resolved by the dedup operator
            w = Window.partitionBy(*[F.col(k) for k in rule.keys])
            fired = F.count(F.lit(1)).over(w) > 1
        else:
            fired = _violation_column(rule, as_of)
        fired = F.coalesce(fired, F.lit(False))
        rank = VERDICT_RANK[getattr(rule, "on_violation", VERDICT_QUARANTINE)]
        verdict_rank = F.greatest(verdict_rank, F.when(fired, F.lit(rank)).otherwise(F.lit(0)))
        viol_names.append(F.when(fired, F.lit(rule.name())))

    # Base carries the integer verdict rank; the admitted path filters
    # on the rank directly so it never materializes the verdict string
    # or the violations array (Catalyst cannot prune them away once a
    # string filter references the verdict column).
    rank_col = "_cdf_rank"
    base = df.withColumn(rank_col, verdict_rank.cast("int"))

    # CollectMetrics below every downstream filter: the first action on
    # any derived frame captures the quarantine count for the whole
    # batch, so the package builder can SKIP the quarantine-segment job
    # when the batch is clean (one pass instead of two). Filters are not
    # pushed through CollectMetrics, so the counts see every row.
    obs = None
    if observe:
        obs = Observation(f"contract-quarantine-{uuid.uuid4().hex[:8]}")
        base = base.observe(
            obs,
            F.count(F.when(F.col(rank_col) >= VERDICT_RANK[VERDICT_QUARANTINE], 1)).alias(
                "quarantine_rows"
            ),
            F.count(F.lit(1)).alias("total_rows"),
        )

    annotated = base.withColumn(
        VERDICT_COL,
        F.element_at(
            F.array(F.lit(VERDICT_PASS), F.lit(VERDICT_FREEZE), F.lit(VERDICT_QUARANTINE)),
            F.col(rank_col) + 1,
        ),
    ).withColumn(
        VIOLATIONS_COL,
        F.array_compact(F.array(*viol_names)) if viol_names else F.array().cast("array<string>"),
    ).drop(rank_col, *castfail_cols)

    admitted = base.filter(
        F.col(rank_col) < VERDICT_RANK[VERDICT_QUARANTINE]
    ).drop(rank_col, *castfail_cols)
    quarantined = annotated.filter(F.col(VERDICT_COL) == VERDICT_QUARANTINE)
    return ContractResult(
        annotated=annotated, admitted=admitted, quarantined=quarantined, observation=obs
    )
