"""Tombstone-merge parquet destination: merge without table rewrite.

`ParquetDestination`'s merge materializes the survivors and swaps the
directory — correct, but a full rewrite per batch: at 100 TB a merge
that touches 0.1% of keys still rewrites 100 TB. This destination
implements the lakehouse answer (deletion-vector / merge-on-read
semantics expressed with plain parquet):

- every commit creates a new immutable **version** under
  ``data/v=N/`` (segment file copies, never rewritten);
- a MERGE commit also writes the staged batch's keys to
  ``tombstones/v=N/`` — a key kills every matching row of any OLDER
  version;
- readers resolve liveness with ONE null-safe anti-join against the
  (small) tombstone set: rows of version ``d.v`` survive unless a
  tombstone with ``t.v > d.v`` matches their keys. The key equality is
  an equi-join (`<=>`), so Catalyst plans a broadcast hash anti-join
  with the version comparison as a residual condition — no cross
  product, no shuffle while tombstones broadcast;
- REPLACE moves the **baseline**: versions below it are dead without
  enumerating keys;
- ``compact()`` folds the live view into a fresh baseline version and
  drops old dirs — the amortized rewrite, now a scheduled maintenance
  op instead of a per-commit tax.

Crash safety: version dirs are invisible until the ``_version.json``
pointer (tmp-write + atomic rename) references them, so a crash
mid-copy leaves only an orphan directory that reads ignore and the
next commit of that version number overwrites.

Commit protocol parity (plan_commit -> receipt -> verify):
`crates/cdf-kernel/src/destination.rs:370-433`; merge key semantics
(IS NOT DISTINCT FROM): `crates/cdf-dest-duckdb/src/commit.rs:150-216`.
Replaying a package is keyed-idempotent: the replay's tombstones kill
the earlier copy's rows, so MERGE stays effectively-once per key.
"""

from __future__ import annotations

import json
import shutil
import uuid
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.base import WriteDisposition
from .builder import PackageResult
from .ledger import Receipt, verify_frame

VERSION_COL = "_cdf_version"
_RESERVED = {"v", VERSION_COL}


class TombstoneParquetDestination:
    """Merge-on-read parquet destination speaking the commit protocol."""

    def __init__(self, table_path: str | Path, merge_keys: list[str] | None = None):
        self.table_path = Path(table_path)
        self.merge_keys = merge_keys or []

    # -- version pointer -------------------------------------------------
    def _state(self) -> dict:
        p = self.table_path / "_version.json"
        if not p.exists():
            return {"current": 0, "base": 1}
        return json.loads(p.read_text())

    def _advance(self, state: dict) -> None:
        tmp = self.table_path / f"_version.{uuid.uuid4().hex[:8]}.tmp"
        tmp.write_text(json.dumps(state))
        tmp.rename(self.table_path / "_version.json")  # atomic pointer swap

    # -- commit ----------------------------------------------------------
    def commit(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        segs = package.segments()
        # `data/v=N/` makes `v` a hive partition column, and reads
        # rename it to VERSION_COL: a user column of either name would
        # be overwritten by the version number
        names = pq.read_schema(segs[0]).names if segs else []
        clash = [c for c in names if c.lower() in _RESERVED]
        if clash:
            raise ValueError(
                f"TombstoneParquetDestination: column(s) {clash} collide with the "
                f"version partition ({sorted(_RESERVED)} are reserved)"
            )
        state = self._state()
        v = state["current"] + 1
        vdir = self.table_path / "data" / f"v={v}"
        if vdir.exists():  # orphan from a crashed attempt: never referenced
            shutil.rmtree(vdir)
        vdir.mkdir(parents=True)
        for seg in segs:
            shutil.copy2(seg, vdir / f"{package.package_id}-{Path(seg).name}")
        # carry the package's zone maps: version-level min/max lets
        # read() prune whole version dirs before Spark ever lists them
        pkg_stats = Path(package.path) / "stats" / "column_stats.json"
        if pkg_stats.exists():
            shutil.copy2(pkg_stats, vdir / "_stats.json")

        if disposition is WriteDisposition.MERGE:
            if not self.merge_keys:
                raise ValueError("merge disposition requires merge_keys")
            tdir = self.table_path / "tombstones" / f"v={v}"
            if tdir.exists():
                shutil.rmtree(tdir)
            staged = spark.read.parquet(str(vdir))
            (
                staged.select(*self.merge_keys)
                .distinct()
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(tdir))
            )
        elif disposition is WriteDisposition.REPLACE:
            state["base"] = v  # all earlier versions dead, no keys needed
        elif disposition is not WriteDisposition.APPEND:
            raise ValueError(f"disposition {disposition} not supported")

        state["current"] = v
        self._advance(state)
        return Receipt.issue(package, disposition, str(self.table_path))

    # -- read view -------------------------------------------------------
    _OPS = {
        "eq": lambda c, v: c == v,
        "ne": lambda c, v: c != v,
        "lt": lambda c, v: c < v,
        "le": lambda c, v: c <= v,
        "gt": lambda c, v: c > v,
        "ge": lambda c, v: c >= v,
    }

    def _live_versions(self, lo: int, hi: int, filters) -> list[int]:
        versions = sorted(
            v
            for p in (self.table_path / "data").glob("v=*")
            if lo <= (v := int(p.name.split("=")[1])) <= hi
        )
        if not filters:
            return versions
        segs = []
        for v in versions:
            sp = self.table_path / "data" / f"v={v}" / "_stats.json"
            stats = json.loads(sp.read_text()) if sp.exists() else {}
            segs.append({"v": v, "stats": stats})
        from .stats import prune_segments

        for col, op, val in filters:
            segs = prune_segments(segs, col, op, val)
        return [s["v"] for s in segs]

    def read(
        self,
        spark: SparkSession,
        with_version: bool = False,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """The live view: committed versions only, tombstoned rows
        removed. One broadcast hash anti-join when tombstones are
        small; AQE demotes to a shuffled anti-join when they are not.

        ``filters`` — [(column, op, value)] with op in eq/ne/lt/le/
        gt/ge — are applied BOTH as zone-map pruning over the
        version-level stats each commit carried from its package
        (whole version dirs skipped before Spark lists a file — the
        reference's statistics_pruning outcomes at destination scope)
        AND as ordinary Spark predicates, so pruning is purely an
        optimization: conservative on missing stats, never changes
        the result."""
        state = self._state()
        lo, hi = state["base"], state["current"]
        if hi == 0:
            raise FileNotFoundError(f"{self.table_path}: no committed versions")
        versions = self._live_versions(lo, hi, filters)
        base_dir = str(self.table_path / "data")
        if not versions:  # every version pruned: empty frame, same schema
            data = (
                spark.read.option("basePath", base_dir)
                .parquet(base_dir)
                .withColumnRenamed("v", VERSION_COL)
                .filter(F.lit(False))
            )
        else:
            paths = [f"{base_dir}/v={v}" for v in versions]
            data = (
                spark.read.option("basePath", base_dir)
                .parquet(*paths)
                .withColumnRenamed("v", VERSION_COL)
                .filter((F.col(VERSION_COL) >= lo) & (F.col(VERSION_COL) <= hi))
            )
        for col, op, val in filters or []:
            data = data.filter(self._OPS[op](F.col(col), F.lit(val)))
        tdir = self.table_path / "tombstones"
        live = data
        if tdir.exists() and self.merge_keys:
            tombs = (
                spark.read.option("basePath", str(tdir))
                .parquet(str(tdir))
                .withColumnRenamed("v", "_tv")
                .filter((F.col("_tv") >= lo) & (F.col("_tv") <= hi))
            )
            cond = data[self.merge_keys[0]].eqNullSafe(tombs[self.merge_keys[0]])
            for k in self.merge_keys[1:]:
                cond = cond & data[k].eqNullSafe(tombs[k])
            cond = cond & (tombs["_tv"] > data[VERSION_COL])
            live = data.join(F.broadcast(tombs), on=cond, how="left_anti")
        return live if with_version else live.drop(VERSION_COL)

    # -- maintenance -----------------------------------------------------
    def compact(self, spark: SparkSession) -> int:
        """Fold the live view into a fresh baseline version; drop old
        version dirs and all tombstones. Returns the new baseline."""
        state = self._state()
        v = state["current"] + 1
        vdir = self.table_path / "data" / f"v={v}"
        live = self.read(spark)
        live.write.mode("overwrite").parquet(str(vdir))
        self._advance({"current": v, "base": v})
        for old in (self.table_path / "data").glob("v=*"):
            if int(old.name.split("=")[1]) < v:
                shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(self.table_path / "tombstones", ignore_errors=True)
        return v

    # -- verification ----------------------------------------------------
    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        return verify_frame(spark, receipt, package, lambda: self.read(spark), self.merge_keys)
