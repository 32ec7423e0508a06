"""The load pipeline: the engine's `cdf run <resource>` equivalent.

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
  5. late-data classification against the stored watermark
  6. package build (segments + stats + manifests, hash-addressed)
  7. destination commit -> receipt -> verify -> checkpoint advance

Everything row-shaped is a DataFrame op (distributed, codegen'd); the
control plane (negotiation, manifests, ledger) is driver-side JSON.
"""

from __future__ import annotations

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
from .plans.scan import ScanRequest
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
    # positions merged into the checkpoint beyond the cursor field —
    # how snapshot-table sources (Iceberg/Delta) record their frontier
    extra_positions: dict = field(default_factory=dict)
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
        import time as _time

        desc: ResourceDescriptor = self.resource.descriptor
        trace: list[dict] = []
        _t0 = _time.perf_counter()

        def _trace(step: str, **kv) -> None:
            trace.append({"step": step, "at_s": round(_time.perf_counter() - _t0, 3), **kv})

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
        _trace("scan_negotiated", plan_hash=scan_plan.content_hash(),
               pushed=len(scan_plan.pushed), residual=len(scan_plan.residual))

        # schema admission against the authority (SURVEY §1.3): the
        # observed scan schema must reconcile with the promoted head —
        # exact/widened/extra admit (extras feed variant capture),
        # drift refuses the run before any data moves.
        permit = None
        authority = None
        if self.ledger is not None and desc.trust_level == "declared":
            from .types.authority import SchemaAuthority, SchemaDriftError

            authority = SchemaAuthority(Path(self.ledger.root) / "schemas", desc.resource_id)
            if authority.active() is None:
                authority.promote(authority.propose(df.schema).version)
            admission = authority.admit(df.schema)
            _trace("schema_admission", verdict=admission.verdict)
            if self.settlement_run_id is not None:
                permit = authority.acquire_permit(
                    self.settlement_run_id, duration_ms=self.settlement_permit_ms
                )
                _trace(
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

        # 3. contract
        quarantined: DataFrame | None = None
        cres: ContractResult | None = None
        if self.contract:
            cres = evaluate_contract(df, self.contract, as_of=as_of, observe=True)
            df = cres.admitted
            quarantined = cres.quarantined
            _trace("contract_evaluated", contract_hash=self.contract.content_hash())

        # 4. dedup under the declared order
        if desc.dedup_keys:
            order = [desc.cursor.field] if desc.cursor else desc.primary_key or desc.dedup_keys
            df = dedup_keyed(df, desc.dedup_keys, order, keep=desc.dedup_keep)

        # 5. late data — never silently dropped (late_data.py contract):
        # quarantined late rows join the package's quarantine segment as
        # evidence; recaptured rows persist to a carryover dir the next
        # run re-reads (LateDataCarryoverRef parity with
        # streaming/pipeline.py).
        rows_late = 0
        counts = []  # observed quarantine counts, read after the data write
        if cres is not None:
            counts.append(cres.observed_quarantine_count)
        late_split = None
        if self.watermark_column is not None and self.watermark_value is not None:
            carry_root = Path(self.ledger.root) if self.ledger is not None else Path(self.package_root)
            carryover_dir = carry_root / "carryover" / desc.resource_id
            if self.late_action == "recapture" and carryover_dir.exists():
                # materialize eagerly: the carryover dir is REPLACED
                # below, so the plan must not lazily re-read it
                carried = spark.read.parquet(str(carryover_dir)).localCheckpoint(eager=True)
                df = df.unionByName(carried)

            split = classify_late_data(df, self.watermark_column, self.watermark_value, self.late_action)
            if self.late_action == "quarantine":
                late = split.quarantine_evidence()
                quarantined = (
                    late
                    if quarantined is None
                    else quarantined.unionByName(late, allowMissingColumns=True)
                )
                late_split = split
                counts.append(split.observed_late_count)
                df = split.on_time
            elif self.late_action == "recapture":
                # persist for the NEXT run; replace the previous
                # carryover set (those rows rejoined `df` above)
                rows_late = split.persist_recaptured(carryover_dir)
                df = split.on_time
            else:
                df = split.admitted_annotated
            _trace("late_classified", action=self.late_action)

        # 6. package (cursor frontier reuses the package's own stats
        # pass instead of a separate max() job; the contract and late
        # observations let the builder skip the quarantine job on clean
        # batches)
        builder = PackageBuilder(
            self.package_root, desc.resource_id, compression=self.package_compression
        )
        package = builder.build(
            admitted=df,
            quarantined=quarantined,
            scan_plan=scan_plan,
            contract=self.contract,
            trace=trace,
            quarantine_count_hint=lambda: sum(c() for c in counts),
        )
        if late_split is not None:
            rows_late = late_split.observed_late_count()
        _trace("package_built", package_id=package.package_id, rows=package.rows_admitted)
        new_position = None
        if desc.cursor:
            import json as _json

            stats = _json.loads(
                (Path(package.path) / "stats" / "column_stats.json").read_text()
            )
            entry = stats.get(desc.cursor.field, {})
            new_position = entry.get("max")
            (Path(package.path) / "state").mkdir(exist_ok=True)
            (Path(package.path) / "state" / "positions.json").write_text(
                _json.dumps({desc.cursor.field: new_position}, default=str)
            )

        # 7. commit -> receipt -> verify -> checkpoint
        receipt = None
        if self.destination is not None:
            if permit is not None:
                # settlement boundary: re-read the authority (another
                # writer may have published a promotion since
                # admission) and re-assert the permit — a fenced run
                # aborts HERE, before the destination mutates
                from .types.authority import SchemaAuthority as _SA

                _SA(
                    Path(self.ledger.root) / "schemas", desc.resource_id
                ).assert_permit(permit)
                _trace("settlement_permit_asserted", permit_id=permit.permit_id)
            receipt = self.destination.commit(spark, package, self.disposition)
            receipt = self.destination.verify(spark, receipt, package)
            _trace("committed", receipt_id=receipt.receipt_id, verified=receipt.verified)
            if self.ledger:
                self.ledger.record_receipt(receipt)
                positions = {desc.cursor.field: new_position} if desc.cursor else {}
                positions.update(self.extra_positions)
                self.ledger.advance(desc.resource_id, receipt, positions)
        if permit is not None and authority is not None:
            from .types.authority import SchemaAuthority as _SA

            _SA(Path(self.ledger.root) / "schemas", desc.resource_id).release_permit(
                permit
            )

        return RunResult(
            package=package,
            receipt=receipt,
            rows_admitted=package.rows_admitted,
            rows_quarantined=package.rows_quarantined,
            rows_late=rows_late,
            contract_result=cres,
            resume_position=new_position,
        )


def replay_package(spark: SparkSession, package_path: str, destination: ParquetDestination,
                   disposition: WriteDisposition = WriteDisposition.APPEND) -> Receipt:
    """Rolling replay: re-drive a recorded package into a destination
    (`crates/cdf-runtime/src/rolling_replay.rs`). The package is the
    source of truth; no upstream read happens."""
    import json as _json

    manifest = _json.loads((Path(package_path) / "manifest.json").read_text())
    pkg = PackageResult(
        package_id=manifest["package_id"],
        path=package_path,
        rows_admitted=manifest["rows_admitted"],
        rows_quarantined=manifest["rows_quarantined"],
        value_hash=manifest["value_hash"],
        schema_fingerprint=manifest["schema_fingerprint"],
        manifest=manifest,
    )
    receipt = destination.commit(spark, pkg, disposition)
    return destination.verify(spark, receipt, pkg)
