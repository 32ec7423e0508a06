"""Hash-addressed package construction.

Re-expresses the reference's package artifact
(`crates/cdf-package/`; golden layout
`crates/cdf-conformance/golden/prepared-orders-v1/expected.json:8-19`:
`plan/ schema/ data/ quarantine/ stats/ lineage/ state/ trace.jsonl`):
a run's output is a self-describing directory of parquet segments plus
JSON evidence, addressed by a deterministic content hash.

Determinism under Spark's nondeterministic task ordering (SURVEY §7
"hard parts"): the package id derives from *values* (order-independent
dataset hash + schema fingerprint + plan hash), never file bytes.
Segment files themselves are evidence, not identity.

Segmentation follows the reference's canonical policy
(`crates/cdf-engine/src/segmentation.rs:16-52`: target 4 Mi rows /
256 MiB): expressed as `maxRecordsPerFile` so executors split files
without a repartition shuffle.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..contracts.policy import Contract
from ..plans.checkpoint import observed_get
from ..plans.scan import ScanPlan
from ..types.schema import CanonicalSchema
from .stats import _observe_count, dataset_value_hash, profile_and_hash

SEGMENT_TARGET_ROWS = 4 * 1024 * 1024  # reference: 4 Mi rows per segment


def content_address(resource: str, schema: str, values: str, plan: str, contract: str) -> str:
    """A package's id: a hash of its resource, schema fingerprint, value
    hash, plan hash and contract hash (values, never file bytes)."""
    doc = {"resource": resource, "schema": schema, "values": values, "plan": plan, "contract": contract}
    return "pkg-" + hashlib.sha256(json.dumps(doc, sort_keys=True).encode()).hexdigest()[:24]


@dataclass
class PackageResult:
    package_id: str
    path: str
    rows_admitted: int
    rows_quarantined: int
    value_hash: str
    schema_fingerprint: str
    manifest: dict = field(default_factory=dict)

    def data_path(self) -> str:
        return str(Path(self.path) / "data")

    def segments(self) -> list[str]:
        """Paths of the package's data segments, as its manifest lists them."""
        return [str(Path(self.data_path()) / s) for s in self.manifest["segments"]]

    def arrow_schema(self):
        """The Arrow schema of the package's first segment."""
        import pyarrow.parquet as pq

        return pq.read_schema(self.segments()[0])

    def addressed(self) -> bool:
        """True when the package id is the content address of what the
        package says it holds; a manifest edited after the build is not."""
        m = self.manifest
        return self.package_id == content_address(
            m["resource_id"], self.schema_fingerprint, self.value_hash, m["plan_hash"], m["contract_hash"]
        )


class PackageBuilder:
    """Builds one package directory from admitted/quarantined frames."""

    def __init__(self, root: str | Path, resource_id: str, compression: str = "snappy"):
        self.root = Path(root)
        self.resource_id = resource_id
        self.compression = compression

    def build(
        self,
        admitted: DataFrame,
        quarantined: DataFrame | None = None,
        scan_plan: ScanPlan | None = None,
        contract: Contract | None = None,
        quarantine_count_hint=None,
    ) -> PackageResult:
        """The evidence pass (column stats + value hash) is computed
        DURING the segment write via Spark's Observation API — one scan
        total for data + all evidence. The load chain adds
        ``state/positions.json`` and ``trace.jsonl`` at delivery
        (`runtime.deliver_package`).

        ``quarantine_count_hint``: zero-arg callable returning the
        quarantine-row count observed during the data write
        (`runtime.build_package` sums ContractResult.observed_quarantine_count
        and LateDataSplit.observed_late_count). When it reports 0,
        the quarantine-segment job — a full recompute of the upstream
        chain — is skipped: the batch is proven clean by the same pass
        that wrote the data."""
        import uuid as _uuid

        schema = CanonicalSchema.from_spark(admitted.schema)
        schema_fp = schema.fingerprint()
        plan_hash = scan_plan.content_hash() if scan_plan else "none"
        contract_hash = contract.content_hash() if contract else "none"

        # write to a staging dir; the content-addressed name is only
        # known after the observed metrics arrive
        pkg = self.root / f".staging-{_uuid.uuid4().hex[:12]}"
        (pkg / "plan").mkdir(parents=True, exist_ok=True)
        (pkg / "schema").mkdir(exist_ok=True)
        (pkg / "lineage").mkdir(exist_ok=True)
        (pkg / "state").mkdir(exist_ok=True)

        # Evidence strategy (r6): the value hash rides the data write
        # as a SINGLE-aggregate Observation (multiset sum of xxhash64
        # — ~0.3 s at 12M rows, unlike the old ~3-aggregates-per-column
        # observation whose interpreted accumulator cost more than a
        # re-scan), and column stats come from the WRITTEN parquet
        # FOOTERS (~10 ms driver-side, O(files)) — which the encoder
        # derived from the bytes at rest, so min/max/null/row-count
        # evidence still attests to the written files. Columns whose
        # footers lack usable stats (INT96, oversized binary) get ONE
        # targeted columnar completion agg. This replaced a full
        # re-scan of every written byte (~2.5 s per 12M-row batch —
        # the single largest ingest cost); byte-level tamper evidence
        # is verify()'s job, which re-reads at rest (falsification
        # tests unchanged). The fold is a sum mod 2^64 (r7) — an xor
        # fold cancels duplicate pairs, hiding {X,X}->{Z,Z} tampering.
        from pyspark.sql import Observation

        from .stats import _vhash_aggs, _vhash_render, footer_profile

        spark = admitted.sparkSession
        hash_cols = sorted(admitted.columns)
        obs = Observation(f"pkg-ev-{_uuid.uuid4().hex[:8]}")
        (
            admitted.observe(
                obs,
                *_vhash_aggs(hash_cols),
                F.count(F.lit(1)).alias("__rows"),
            )
            .write.mode("overwrite")
            .option("compression", self.compression)
            .option("maxRecordsPerFile", SEGMENT_TARGET_ROWS)
            .parquet(str(pkg / "data"))
        )
        observed = observed_get(obs)
        n_rows = int(observed["__rows"])
        value_hash = _vhash_render(observed, n_rows)
        stats, incomplete = footer_profile(pkg / "data", admitted.schema)
        if stats["__table"]["rows"] != n_rows:
            raise ValueError(
                f"written segments carry {stats['__table']['rows']} rows but the "
                f"write observed {n_rows} — at-rest integrity check failed"
            )
        if incomplete:
            written = spark.read.schema(admitted.schema).parquet(str(pkg / "data"))
            comp, _ = profile_and_hash(written.select(*incomplete), with_hash=False)
            for c in incomplete:
                stats[c] = comp[c]
        rows_quar = 0
        if quarantined is not None:
            hint = quarantine_count_hint() if quarantine_count_hint is not None else None
            if hint == 0:
                rows_quar = 0  # proven clean by the data pass; no second job
            else:
                qobs_df, qobs = _observe_count(quarantined)
                qobs_df.write.mode("overwrite").option("compression", self.compression).parquet(
                    str(pkg / "quarantine")
                )
                rows_quar = int(observed_get(qobs)["rows"])

        package_id = content_address(self.resource_id, schema_fp, value_hash, plan_hash, contract_hash)

        # evidence
        rows = stats["__table"]["rows"]
        (pkg / "stats").mkdir(exist_ok=True)
        (pkg / "stats" / "column_stats.json").write_text(json.dumps(stats, indent=1, default=str))
        (pkg / "schema" / "schema.json").write_text(schema.canonical_json())
        if scan_plan:
            (pkg / "plan" / "scan_plan.json").write_text(
                json.dumps(scan_plan.to_json_obj(), indent=1)
            )
        if contract:
            (pkg / "plan" / "contract.json").write_text(
                json.dumps(
                    {
                        "hash": contract_hash,
                        "rules": [r.to_json_obj() for r in contract.rules],
                        "transforms": [t.to_json_obj() for t in contract.transforms],
                    },
                    indent=1,
                )
            )
        (pkg / "lineage" / "lineage.json").write_text(
            json.dumps(
                {
                    "resource_id": self.resource_id,
                    "plan_hash": plan_hash,
                    "contract_hash": contract_hash,
                    "engine": "cdf_spark",
                },
                indent=1,
            )
        )

        manifest = {
            "package_id": package_id,
            "manifest_version": "cdf-spark-package@1",
            "resource_id": self.resource_id,
            "rows_admitted": rows,
            "rows_quarantined": rows_quar,
            "value_hash": value_hash,
            "schema_fingerprint": schema_fp,
            "plan_hash": plan_hash,
            "contract_hash": contract_hash,
            "segments": sorted(
                p.name for p in (pkg / "data").glob("*.parquet")
            ),
            "created_at_ms": int(time.time() * 1000),
        }
        (pkg / "manifest.json").write_text(json.dumps(manifest, indent=1))

        # promote staging -> content-addressed location (idempotent:
        # an identical rebuild replaces the identical package)
        final = self.root / package_id
        if final.exists():
            import shutil as _shutil

            _shutil.rmtree(final)
        pkg.rename(final)
        pkg = final

        return PackageResult(
            package_id=package_id,
            path=str(pkg),
            rows_admitted=rows,
            rows_quarantined=rows_quar,
            value_hash=value_hash,
            schema_fingerprint=schema_fp,
            manifest=manifest,
        )

    @staticmethod
    def verify(spark: SparkSession, package_path: str | Path) -> bool:
        """Re-hash a package's data and check it against the manifest —
        the replay-integrity check (golden-package equality by values).
        The recorded schema must be the manifest's, and the data's column
        names and types the recorded ones. Nullability is not compared:
        Spark reads every parquet column back as nullable."""
        pkg = Path(package_path)
        manifest = json.loads((pkg / "manifest.json").read_text())
        recorded = CanonicalSchema.from_json((pkg / "schema" / "schema.json").read_text())
        df = spark.read.parquet(str(pkg / "data"))

        def columns(schema: CanonicalSchema) -> list[tuple[str, str]]:
            return [(f.name, f.type) for f in schema.fields]

        return (
            recorded.fingerprint() == manifest["schema_fingerprint"]
            and columns(CanonicalSchema.from_spark(df.schema)) == columns(recorded)
            and dataset_value_hash(df) == manifest["value_hash"]
        )
