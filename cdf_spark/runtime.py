"""The load chain: the engine's `cdf run <resource>` equivalent.

Re-expresses the reference's operator chain
(`crates/cdf-engine/src/planning.rs:338-346`:
`CdfResourceAdapter -> CdfNativeScan -> SchemaFingerprintExec ->
ContractExec -> NormalizeExec -> ProfileExec -> LineageExec ->
PackageSink`) and its execution orchestration
(`crates/cdf-engine/src/execution/orchestration.rs`, §3.1 of SURVEY):

  1. negotiate scan (pushdown fidelity, limit guard, cursor resume)
  2. execute declaratively (Catalyst owns pruning/pushdown)
  3. contract transforms + rules -> verdict lattice splits
  4. keyed dedup under the declared package order
  5. late-data classification against the watermark
  6. package build (segments + stats + manifests, hash-addressed)
  7. destination commit -> receipt -> verify -> checkpoint advance

Steps 3-7 exist once, as two functions every load calls:
`build_package` (3-6) and `deliver_package` (7). A bounded load
(`LoadPipeline`) runs steps 1-2 and passes a fixed watermark; a stream
epoch (`streaming.pipeline.StreamingLoadPipeline`) passes its
micro-batch and the watermark ledger's value. The package's ONE data
write computes steps 3-5 and every observed scalar (contract
quarantine count, late count); the quarantine segment is written only
when those counts are non-zero. No step runs a Spark action just to
read a count or a max.

Everything row-shaped is a DataFrame op (distributed, codegen'd); the
control plane (negotiation, manifests, ledger) is driver-side JSON.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .contracts.evaluator import ContractResult, evaluate_contract
from .contracts.policy import Contract
from .expressions.ast import Col, Expr
from .operators.dedup import dedup_keyed
from .operators.late_data import classify_late_data
from .package.builder import PackageBuilder, PackageResult
from .package.ledger import CheckpointLedger, ParquetDestination, Receipt
from .plans.scan import ScanPlan, ScanRequest
from .sources.base import ResourceDescriptor, WriteDisposition
from .sources.files import FileResource


@dataclass
class RunResult:
    package: PackageResult
    receipt: Receipt | None
    rows_admitted: int
    rows_quarantined: int
    rows_late: int
    contract_result: ContractResult | None = None
    resume_position: object = None


@dataclass
class LoadPipeline:
    """One resource's configured load path."""

    resource: FileResource
    contract: Contract | None = None
    package_root: str = "/tmp/cdf_packages"
    ledger: CheckpointLedger | None = None
    destination: object | None = None  # any commit/verify destination
    disposition: WriteDisposition = WriteDisposition.APPEND
    watermark_column: str | None = None
    watermark_value: object = None
    late_action: str = "annotate"
    predicates: list[Expr] = field(default_factory=list)
    projection: list[str] | None = None
    # parquet codec for package segments: snappy default (the general
    # storage trade); "none" for encode-roofline workloads where the
    # downstream rereads immediately and bytes are cheap
    package_compression: str = "snappy"
    # settlement fencing (types/authority.py): when set (and the
    # resource admits against a declared head), the run acquires a
    # generation-bound settlement permit at admission and RE-ASSERTS it
    # immediately before the destination commit — a schema promotion
    # published mid-run fences the stale writer off BEFORE it mutates
    # the destination (reference: SchemaSettlementStore's
    # acquire/assert/commit discipline, schema_authority.rs:833-861)
    settlement_run_id: str | None = None
    settlement_permit_ms: int = 600_000

    def run(self, spark: SparkSession, as_of: datetime | None = None) -> RunResult:
        desc: ResourceDescriptor = self.resource.descriptor

        # exclusive state-scope lease: two concurrent runs of the same
        # resource must not interleave checkpoints
        lease = None
        if self.ledger is not None:
            from .package.lease import ScopeLeaseManager

            lease_mgr = ScopeLeaseManager(Path(self.ledger.root) / "leases")
            lease = lease_mgr.acquire(desc.resource_id)
        try:
            return self._run_inner(spark, as_of)
        finally:
            if lease is not None:
                lease_mgr.release(lease)

    def _run_inner(self, spark: SparkSession, as_of: datetime | None = None) -> RunResult:
        desc: ResourceDescriptor = self.resource.descriptor
        trace = Trace()

        # 1-2. scan with cursor resume from the checkpoint ledger
        resume = None
        preds = list(self.predicates)
        if desc.cursor and self.ledger:
            resume = self.ledger.resume_position(desc.resource_id, desc.cursor.field)
            if resume is not None:
                preds.append(Col(desc.cursor.field) > resume)
        request = ScanRequest(
            resource_id=desc.resource_id,
            projection=self.projection,
            predicates=preds,
            cursor_field=desc.cursor.field if desc.cursor else None,
            cursor_resume_value=resume,
        )
        df, scan_plan = self.resource.scan(spark, request)
        trace("scan_negotiated", plan_hash=scan_plan.content_hash(),
              pushed=len(scan_plan.pushed), residual=len(scan_plan.residual))

        # schema admission against the authority (SURVEY §1.3): the
        # observed scan schema must reconcile with the promoted head —
        # exact/widened/extra admit (extras feed variant capture),
        # drift refuses the run before any data moves.
        permit = None
        if self.ledger is not None and desc.trust_level == "declared":
            from .types.authority import SchemaAuthority, SchemaDriftError

            schemas = Path(self.ledger.root) / "schemas"
            authority = SchemaAuthority(schemas, desc.resource_id)
            if authority.active() is None:
                authority.promote(authority.propose(df.schema).version)
            admission = authority.admit(df.schema)
            trace("schema_admission", verdict=admission.verdict)
            if self.settlement_run_id is not None:
                permit = authority.acquire_permit(
                    self.settlement_run_id, duration_ms=self.settlement_permit_ms
                )
                trace(
                    "settlement_permit_acquired",
                    permit_id=permit.permit_id,
                    generation=permit.generation,
                )
            if not admission.admissible:
                raise SchemaDriftError(
                    f"schema drift on {desc.resource_id}: drifted={admission.drifted_fields} "
                    f"missing_required={admission.missing_required} "
                    "(propose+promote a new head to accept)"
                )
            if admission.verdict == "missing_fields":
                # null-fill missing nullable declared columns so the
                # package schema stays the promoted head's shape
                from pyspark.sql import functions as F

                head_fields = {f.name: f for f in authority.active_schema().to_spark().fields}
                for name in admission.missing_fields:
                    df = df.withColumn(name, F.lit(None).cast(head_fields[name].dataType))

        carry_root = Path(self.ledger.root) if self.ledger is not None else Path(self.package_root)
        package, rows_late, cres = build_package(
            df, desc, self.package_root, trace=trace, contract=self.contract, as_of=as_of,
            watermark_column=self.watermark_column, watermark_value=self.watermark_value,
            late_action=self.late_action, carryover_dir=carry_root / "carryover" / desc.resource_id,
            scan_plan=scan_plan, compression=self.package_compression,
        )
        if permit is not None and self.destination is not None:
            # settlement boundary: re-read the authority (another writer
            # may have published a promotion since admission) and
            # re-assert the permit — a fenced run aborts HERE, before
            # the destination mutates
            SchemaAuthority(schemas, desc.resource_id).assert_permit(permit)
            trace("settlement_permit_asserted", permit_id=permit.permit_id)
        receipt, positions = deliver_package(
            spark, package, self.destination, self.disposition, self.ledger,
            cursor_field=desc.cursor.field if desc.cursor else None, trace=trace,
        )
        if permit is not None:
            SchemaAuthority(schemas, desc.resource_id).release_permit(permit)

        return RunResult(
            package, receipt, package.rows_admitted, package.rows_quarantined, rows_late,
            contract_result=cres,
            resume_position=positions.get(desc.cursor.field) if desc.cursor else None,
        )


class Trace:
    """Timed step marks of one load, written to the package's
    `trace.jsonl` once the receipt is known."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.events: list[dict] = []

    def __call__(self, step: str, **kv) -> None:
        self.events.append({"step": step, "at_s": round(time.perf_counter() - self.t0, 3), **kv})

    def write(self, package_path: str) -> None:
        with open(Path(package_path) / "trace.jsonl", "w") as f:
            for ev in self.events:
                f.write(json.dumps(ev, default=str) + "\n")


def build_package(
    df: DataFrame,
    desc: ResourceDescriptor,
    package_root: str,
    *,
    trace: Trace,
    contract: Contract | None,
    watermark_column: str | None,
    watermark_value: object,
    late_action: str,
    carryover_dir: Path,
    as_of: datetime | None = None,
    scan_plan: ScanPlan | None = None,
    compression: str = "snappy",
) -> tuple[PackageResult, int, ContractResult | None]:
    """Steps 3-6 over `df`: contract -> dedup -> late split -> package.
    A `watermark_value` of None means no late split. Returns the
    package, its late-row count and the contract result."""
    quarantined: DataFrame | None = None
    cres: ContractResult | None = None
    counts = []  # observed quarantine counts, read after the data write
    if contract:
        cres = evaluate_contract(df, contract, as_of=as_of, observe=True)
        df, quarantined = cres.admitted, cres.quarantined
        counts.append(cres.observed_quarantine_count)
        trace("contract_evaluated", contract_hash=contract.content_hash())

    if desc.dedup_keys:
        order = [desc.cursor.field] if desc.cursor else desc.primary_key or desc.dedup_keys
        df = dedup_keyed(df, desc.dedup_keys, order, keep=desc.dedup_keep)

    # late data is never silently dropped (late_data.py contract):
    # quarantined late rows join the package's quarantine segment as
    # evidence; recaptured rows persist to the carryover dir and rejoin
    # the next load, re-presented to the same contract/dedup path
    # (LateDataCarryoverRef parity)
    rows_late = 0
    late_split = None
    if watermark_column is not None and watermark_value is not None:
        if late_action == "recapture" and carryover_dir.exists():
            # materialize eagerly: the carryover dir is REPLACED below,
            # so the plan must not lazily re-read it
            carried = df.sparkSession.read.parquet(str(carryover_dir)).localCheckpoint(eager=True)
            df = df.unionByName(carried)

        split = classify_late_data(df, watermark_column, watermark_value, late_action)
        if late_action == "quarantine":
            late = split.quarantine_evidence()
            quarantined = late if quarantined is None else quarantined.unionByName(
                late, allowMissingColumns=True
            )
            late_split = split
            counts.append(split.observed_late_count)
            df = split.on_time
        elif late_action == "recapture":
            # persist for the NEXT load; replace the previous carryover
            # set (those rows rejoined `df` above)
            rows_late = split.persist_recaptured(carryover_dir)
            df = split.on_time
        else:
            df = split.admitted_annotated
        trace("late_classified", action=late_action)

    # a clean batch (no contract rejections, no late rows) skips the
    # quarantine job
    package = PackageBuilder(package_root, desc.resource_id, compression=compression).build(
        admitted=df, quarantined=quarantined, scan_plan=scan_plan, contract=contract,
        quarantine_count_hint=lambda: sum(c() for c in counts),
    )
    if late_split is not None:
        rows_late = late_split.observed_late_count()
    trace("package_built", package_id=package.package_id, rows=package.rows_admitted)
    return package, rows_late, cres


def deliver_package(
    spark: SparkSession,
    package: PackageResult,
    destination,
    disposition: WriteDisposition,
    ledger: CheckpointLedger | None,
    *,
    cursor_field: str | None = None,
    positions: dict | None = None,
    trace: Trace | None = None,
) -> tuple[Receipt | None, dict]:
    """Step 7: commit -> verify -> record_receipt -> checkpoint advance.

    The positions (`positions` plus the max of `cursor_field` from the
    package's column stats) go to the package's `state/positions.json`
    and the checkpoint. An empty package is committed only under
    REPLACE; otherwise nothing is committed and no position moves, so a
    load that finds no new rows keeps its cursor. `advance` raises on an
    unverified receipt: with a ledger, this returns only when the package
    was delivered or there was nothing to deliver. Returns the receipt
    (None when nothing was committed) and the positions."""
    positions = dict(positions or {})
    if cursor_field is not None:
        stats = json.loads((Path(package.path) / "stats" / "column_stats.json").read_text())
        positions = {cursor_field: stats.get(cursor_field, {}).get("max"), **positions}
    if positions:
        (Path(package.path) / "state" / "positions.json").write_text(json.dumps(positions, default=str))

    receipt = None
    if destination is not None and (package.rows_admitted or disposition == WriteDisposition.REPLACE):
        receipt = destination.commit(spark, package, disposition)
        receipt = destination.verify(spark, receipt, package)
        if trace is not None:
            trace("committed", receipt_id=receipt.receipt_id, verified=receipt.verified)
    if trace is not None:
        trace.write(package.path)
    if receipt is not None and ledger is not None:
        ledger.record_receipt(receipt)
        ledger.advance(package.manifest["resource_id"], receipt, positions)
    return receipt, positions


def replay_package(spark: SparkSession, package_path: str, destination: ParquetDestination,
                   disposition: WriteDisposition = WriteDisposition.APPEND) -> Receipt | None:
    """Rolling replay: re-drive a recorded package into a destination
    (`crates/cdf-runtime/src/rolling_replay.rs`). The package is the
    source of truth; no upstream read happens. Delivery follows
    `deliver_package` with no ledger. A package read back from disk may
    have changed since its build, and a byte-rule verify only proves its
    segments landed, so the receipt also needs the package to pass
    `PackageBuilder.verify`."""
    manifest = json.loads((Path(package_path) / "manifest.json").read_text())
    pkg = PackageResult(
        package_id=manifest["package_id"],
        path=package_path,
        rows_admitted=manifest["rows_admitted"],
        rows_quarantined=manifest["rows_quarantined"],
        value_hash=manifest["value_hash"],
        schema_fingerprint=manifest["schema_fingerprint"],
        manifest=manifest,
    )
    receipt = deliver_package(spark, pkg, destination, disposition, None)[0]
    if receipt is not None and receipt.verified:
        receipt.verified = PackageBuilder.verify(spark, package_path)
    return receipt
