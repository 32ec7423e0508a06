"""Canonical schemas and deterministic fingerprints.

Mirrors the reference's canonical-schema hashing
(`crates/cdf-kernel/src/schema_fingerprint.rs:1-282`): a schema's
identity is the sha256 of a canonical JSON rendering (sorted keys,
canonical type strings, nullability, field order preserved — order is
semantic for packages). Fingerprints pin plan artifacts and let the
schema authority detect drift.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from pyspark.sql import types as T

from .arrow_types import parse_arrow_type, spark_to_canonical

FINGERPRINT_VERSION = "cdf-spark-schema@1"


@dataclass(frozen=True)
class CanonicalField:
    name: str
    type: str  # canonical Arrow vocabulary string
    nullable: bool = True
    metadata: tuple[tuple[str, str], ...] = ()

    def to_json_obj(self) -> dict:
        obj: dict = {"name": self.name, "type": self.type, "nullable": self.nullable}
        if self.metadata:
            obj["metadata"] = dict(sorted(self.metadata))
        return obj


@dataclass
class CanonicalSchema:
    fields: list[CanonicalField] = field(default_factory=list)

    @classmethod
    def from_spark(cls, schema: T.StructType) -> CanonicalSchema:
        return cls(
            [
                CanonicalField(f.name, spark_to_canonical(f.dataType), f.nullable)
                for f in schema.fields
            ]
        )

    @classmethod
    def from_declared(cls, decl: dict[str, str] | list[tuple[str, str]]) -> CanonicalSchema:
        """Build from `{name: canonical_type}` (or ordered pairs)."""
        items = decl.items() if isinstance(decl, dict) else decl
        out = []
        for name, type_str in items:
            mapped = parse_arrow_type(type_str)  # validates + canonicalizes
            out.append(CanonicalField(name, mapped.canonical))
        return cls(out)

    @classmethod
    def from_json(cls, text: str) -> CanonicalSchema:
        """Read back a schema rendered by `canonical_json`."""
        return cls(
            [CanonicalField(f["name"], f["type"], f.get("nullable", True)) for f in json.loads(text)["fields"]]
        )

    def to_spark(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f.name, parse_arrow_type(f.type).spark_type, f.nullable)
                for f in self.fields
            ]
        )

    def canonical_json(self) -> str:
        return json.dumps(
            {"version": FINGERPRINT_VERSION, "fields": [f.to_json_obj() for f in self.fields]},
            sort_keys=True,
            separators=(",", ":"),
        )

    def fingerprint(self) -> str:
        return "sha256:" + hashlib.sha256(self.canonical_json().encode()).hexdigest()

    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]


def schema_fingerprint(schema: T.StructType | CanonicalSchema) -> str:
    if isinstance(schema, T.StructType):
        schema = CanonicalSchema.from_spark(schema)
    return schema.fingerprint()
