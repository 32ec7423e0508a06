"""Schema authority: immutable versioned schema heads with promotion,
promotion FENCES, and generation-bound settlement permits.

Re-expresses the reference's schema authority
(`crates/cdf-kernel/src/schema_authority.rs:1-920`): per-resource
append-only version history, a promotion lifecycle
(candidate -> active -> retired) with fence phases
(fenced -> cutoff -> published, `SchemaPromotionLifecyclePhase`),
generation-bound settlement permits (`SchemaSettlementPermit` — a
renewable capability a run must hold, and re-assert, to cross the
destination settlement boundary; the STORE owns validity, not the
caller's clock), and admission of observed batch schemas against the
active head (exact / widenable / drifted). Backed by a JSON ledger on
local or shared storage — on a cluster this would live on the object
store next to the checkpoint ledger; it is driver-side metadata,
never in the data path.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import types as T

from .schema import CanonicalSchema


@dataclass
class SchemaVersion:
    version: int
    fingerprint: str
    schema_json: str
    status: str  # candidate | active | retired
    created_at_ms: int = field(default_factory=lambda: int(time.time() * 1000))


class SchemaDriftError(Exception):
    pass


class SchemaFencedError(Exception):
    """A settlement permit no longer authorizes crossing the boundary:
    the head moved (a promotion published), the permit expired or was
    released, or a promotion fence is in flight."""


@dataclass
class SettlementPermit:
    """Generation-bound capability to settle one run's output while the
    schema head it admitted under is still the head. Serialization-safe
    (plain dict via asdict) so a driver restart can re-present it."""

    permit_id: str
    resource_id: str
    run_id: str
    generation: int
    fingerprint: str
    acquired_at_ms: int
    expires_at_ms: int


# Lossless widenings (canonical-type -> admissible wider canonical types).
_WIDENABLE: dict[str, set[str]] = {
    "int8": {"int16", "int32", "int64", "float64"},
    "int16": {"int32", "int64", "float64"},
    "int32": {"int64", "float64"},
    "float32": {"float64"},
    "date32": {"timestamp(us)", "timestamp(us, UTC)"},
}


@dataclass
class AdmissionResult:
    """Verdict of reconciling an observed schema against the authority."""

    verdict: str  # exact | widened | extra_fields | missing_fields | drifted
    unknown_fields: list[str] = field(default_factory=list)
    missing_fields: list[str] = field(default_factory=list)
    widened_fields: list[str] = field(default_factory=list)
    drifted_fields: list[str] = field(default_factory=list)
    missing_required: list[str] = field(default_factory=list)

    @property
    def admissible(self) -> bool:
        # missing_fields is admissible only because the caller is told
        # (distinct verdict) and expected to null-fill; a missing
        # NON-nullable field is reported in missing_required and makes
        # the batch inadmissible (reference: cdf-contract
        # reconciliation missing_field_error semantics).
        return self.verdict in ("exact", "widened", "extra_fields", "missing_fields")


class SchemaAuthority:
    """JSON-ledger-backed versioned schema registry for one resource."""

    def __init__(self, root: str | Path, resource_id: str):
        self.resource_id = resource_id
        self.path = Path(root) / f"{resource_id}.schema.json"
        self.versions: list[SchemaVersion] = []
        self.generation: int = 0
        self.promotion: dict | None = None  # in-flight fence state
        self.permits: dict[str, dict] = {}  # permit_id -> asdict(permit)
        if self.path.exists():
            data = json.loads(self.path.read_text())
            self.versions = [SchemaVersion(**v) for v in data["versions"]]
            self.generation = int(data.get("generation", 0))
            self.promotion = data.get("promotion")
            self.permits = dict(data.get("permits") or {})

    def _persist(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(
            json.dumps(
                {
                    "resource_id": self.resource_id,
                    "versions": [asdict(v) for v in self.versions],
                    "generation": self.generation,
                    "promotion": self.promotion,
                    "permits": self.permits,
                },
                indent=1,
            )
        )
        tmp.replace(self.path)

    def active(self) -> SchemaVersion | None:
        for v in reversed(self.versions):
            if v.status == "active":
                return v
        return None

    def active_schema(self) -> CanonicalSchema | None:
        head = self.active()
        if head is None:
            return None
        return CanonicalSchema.from_json(head.schema_json)

    def propose(self, schema: CanonicalSchema | T.StructType) -> SchemaVersion:
        """Register a candidate version (idempotent on fingerprint)."""
        if isinstance(schema, T.StructType):
            schema = CanonicalSchema.from_spark(schema)
        fp = schema.fingerprint()
        for v in self.versions:
            if v.fingerprint == fp:
                return v
        ver = SchemaVersion(
            version=len(self.versions) + 1,
            fingerprint=fp,
            schema_json=schema.canonical_json(),
            status="candidate",
        )
        self.versions.append(ver)
        self._persist()
        return ver

    def promote(self, version: int) -> SchemaVersion:
        """candidate -> active; the previous active head is retired and
        the GENERATION advances — every outstanding settlement permit
        (bound to the prior generation) is fenced off by this move.
        Refused while a fenced promotion is in flight: concurrent
        proposals settle through the promotion lifecycle, not around
        it."""
        if self.promotion is not None:
            raise SchemaFencedError(
                f"resource {self.resource_id}: promotion "
                f"{self.promotion['promotion_id']} is in flight "
                f"(phase={self.promotion['phase']}) — direct promote is fenced"
            )
        return self._activate(version)

    def _activate(self, version: int) -> SchemaVersion:
        target = next((v for v in self.versions if v.version == version), None)
        if target is None:
            raise KeyError(f"no schema version {version}")
        for v in self.versions:
            if v.status == "active":
                v.status = "retired"
        target.status = "active"
        self.generation += 1
        self._persist()
        return target

    # -- settlement permits (generation-bound run capabilities) ----------

    def acquire_permit(
        self, run_id: str, duration_ms: int = 600_000, now_ms: int | None = None
    ) -> SettlementPermit:
        """Bind a run to the CURRENT head (generation + fingerprint).
        Refused while a promotion fence is in flight — permit
        acquisition serializes with promotion begin, the store-side
        half of the reference's `SchemaSettlementStore` contract."""
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        if duration_ms <= 0:
            raise ValueError("permit duration must be positive")
        if self.promotion is not None:
            raise SchemaFencedError(
                f"resource {self.resource_id}: promotion in flight "
                f"(phase={self.promotion['phase']}) — no new settlement permits"
            )
        head = self.active()
        if head is None:
            raise SchemaDriftError(
                f"resource {self.resource_id} has no active schema head"
            )
        permit = SettlementPermit(
            permit_id=uuid.uuid4().hex,
            resource_id=self.resource_id,
            run_id=str(run_id),
            generation=self.generation,
            fingerprint=head.fingerprint,
            acquired_at_ms=now,
            expires_at_ms=now + int(duration_ms),
        )
        self.permits[permit.permit_id] = asdict(permit)
        self._persist()
        return permit

    def assert_permit(
        self, permit: SettlementPermit, now_ms: int | None = None
    ) -> None:
        """Re-validate a permit at the settlement boundary. The STORE
        state decides: released/unknown, expired, or
        generation/fingerprint behind the head all raise
        SchemaFencedError — a stale writer never mutates the
        destination."""
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        rec = self.permits.get(permit.permit_id)
        if rec is None:
            raise SchemaFencedError(
                f"permit {permit.permit_id} is not held (released or never issued)"
            )
        if now >= int(rec["expires_at_ms"]):
            raise SchemaFencedError(
                f"permit {permit.permit_id} expired at {rec['expires_at_ms']}"
            )
        head = self.active()
        if (
            int(rec["generation"]) != self.generation
            or head is None
            or rec["fingerprint"] != head.fingerprint
        ):
            raise SchemaFencedError(
                f"permit {permit.permit_id} is fenced: bound to generation "
                f"{rec['generation']}, head is now generation {self.generation}"
            )

    def renew_permit(
        self,
        permit: SettlementPermit,
        duration_ms: int = 600_000,
        now_ms: int | None = None,
    ) -> SettlementPermit:
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        self.assert_permit(permit, now_ms=now)
        rec = dict(self.permits[permit.permit_id])
        rec["expires_at_ms"] = now + int(duration_ms)
        self.permits[permit.permit_id] = rec
        self._persist()
        return SettlementPermit(**rec)

    def release_permit(self, permit: SettlementPermit) -> None:
        self.permits.pop(permit.permit_id, None)
        self._persist()

    def _live_permits(self, now: int) -> list[dict]:
        return [p for p in self.permits.values() if int(p["expires_at_ms"]) > now]

    # -- promotion lifecycle: fenced -> cutoff -> published ---------------

    def begin_promotion(
        self,
        version: int,
        targets: list[str] | None = None,
        now_ms: int | None = None,
    ) -> dict:
        """FENCE the authority for a head change: from this moment no
        new settlement permits issue. `targets` are the destination
        names that must each settle (receipt recorded) before publish."""
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        if self.promotion is not None:
            raise SchemaFencedError(
                f"promotion {self.promotion['promotion_id']} already in flight"
            )
        target_v = next((v for v in self.versions if v.version == version), None)
        if target_v is None:
            raise KeyError(f"no schema version {version}")
        head = self.active()
        if head is not None and head.version == version:
            raise ValueError(f"version {version} is already the active head")
        self.promotion = {
            "promotion_id": uuid.uuid4().hex,
            "to_version": int(version),
            "from_generation": self.generation,
            "phase": "fenced",
            "targets": sorted(set(targets or [])),
            "settlements": [],
            "cutoff_at_ms": None,
            "updated_at_ms": now,
        }
        self._persist()
        return dict(self.promotion)

    def establish_cutoff(
        self, now_ms: int | None = None, force: bool = False
    ) -> dict:
        """fenced -> cutoff: the old head stops accepting settlements.
        Refused while UNRELEASED, UNEXPIRED permits exist (in-flight
        runs must drain: release, or be force-fenced — `force` revokes
        them, and their next assert_permit raises)."""
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        promo = self._require_phase("fenced")
        live = self._live_permits(now)
        if live and not force:
            raise SchemaFencedError(
                f"{len(live)} settlement permit(s) still live — drain or force"
            )
        if force:
            self.permits = {}
        promo["phase"] = "cutoff"
        promo["cutoff_at_ms"] = now
        promo["updated_at_ms"] = now
        self._persist()
        return dict(promo)

    def settle_target(
        self, target: str, receipt_id: str, now_ms: int | None = None
    ) -> dict:
        """Record one destination's settlement (its correction/backfill
        receipt) during cutoff. Unique per target; unknown targets are
        refused."""
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        promo = self._require_phase("cutoff")
        if target not in promo["targets"]:
            raise KeyError(
                f"target {target!r} is not declared on the promotion "
                f"(targets={promo['targets']})"
            )
        if any(s["target"] == target for s in promo["settlements"]):
            raise ValueError(f"target {target!r} already settled")
        promo["settlements"].append(
            {"target": target, "receipt_id": str(receipt_id), "settled_at_ms": now}
        )
        promo["settlements"].sort(key=lambda s: s["target"])
        promo["updated_at_ms"] = now
        self._persist()
        return dict(promo)

    def publish_promotion(self, now_ms: int | None = None) -> SchemaVersion:
        """cutoff -> published: every declared target settled, the
        candidate becomes the head, the generation advances (fencing
        any permit that survived), and the fence lifts."""
        promo = self._require_phase("cutoff")
        settled = {s["target"] for s in promo["settlements"]}
        missing = [t for t in promo["targets"] if t not in settled]
        if missing:
            raise SchemaFencedError(
                f"cannot publish: targets {missing} have not settled"
            )
        head = self._activate(promo["to_version"])  # bumps generation
        self.promotion = None
        self._persist()
        return head

    def abort_promotion(self) -> None:
        """Lift the fence without changing the head (generation does
        NOT advance — permits acquired before the fence stay valid)."""
        if self.promotion is None:
            raise SchemaFencedError("no promotion in flight")
        self.promotion = None
        self._persist()

    def _require_phase(self, phase: str) -> dict:
        if self.promotion is None:
            raise SchemaFencedError("no promotion in flight")
        if self.promotion["phase"] != phase:
            raise SchemaFencedError(
                f"promotion is in phase {self.promotion['phase']!r}, "
                f"expected {phase!r}"
            )
        return self.promotion

    def admit(self, observed: CanonicalSchema | T.StructType) -> AdmissionResult:
        """Reconcile an observed batch schema against the active head.

        Mirrors `crates/cdf-engine/src/execution/schema_admission.rs`:
        unknown fields are reported (for variant capture / quarantine),
        lossless widenings pass, type drift fails.
        """
        if isinstance(observed, T.StructType):
            observed = CanonicalSchema.from_spark(observed)
        head = self.active_schema()
        if head is None:
            raise SchemaDriftError(f"resource {self.resource_id} has no active schema head")
        declared = {f.name: f.type for f in head.fields}
        declared_nullable = {f.name: f.nullable for f in head.fields}
        seen = {f.name: f.type for f in observed.fields}

        unknown = [n for n in seen if n not in declared]
        missing = [n for n in declared if n not in seen]
        missing_required = [n for n in missing if not declared_nullable.get(n, True)]
        widened: list[str] = []
        drifted: list[str] = []
        for name, otype in seen.items():
            dtype = declared.get(name)
            if dtype is None or otype == dtype:
                continue
            if dtype in _WIDENABLE.get(otype, set()) or otype in _WIDENABLE.get(dtype, set()):
                widened.append(name)
            else:
                drifted.append(name)

        # `exact` requires field-set equality; a batch lacking declared
        # NON-nullable fields is refused outright, lacking nullable ones
        # gets the distinct missing_fields verdict (caller null-fills).
        if drifted or missing_required:
            verdict = "drifted"
        elif missing:
            verdict = "missing_fields"
        elif unknown:
            verdict = "extra_fields"
        elif widened:
            verdict = "widened"
        else:
            verdict = "exact"
        return AdmissionResult(verdict, unknown, missing, widened, drifted, missing_required)
