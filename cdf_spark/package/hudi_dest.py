"""Hudi copy-on-write destination: packages land in a real Hudi CoW
table any Hudi reader resolves.

Completes the open-table-format destination trio (Iceberg, Delta,
Hudi) on the same commit/verify protocol — reference frame: the
destination protocol's commit/verify receipts
(`crates/cdf-kernel/src/destination.rs:370-410`); the table layout is
the timeline + file-group shape `sources/hudi.HudiTable` already
reads (and `sources/hudi_mor` extends).

MERGE is the canonical Hudi copy-on-write UPSERT: updates are routed
to the file group that currently holds their key and that group is
rewritten as a new version (newest instant per group wins at read);
inserts open a new group. The rewrite is ONE distributed job
partitioned by file group — survivors + updates are shuffled by
`_fid` and each group's new version is written by one task; control
moves O(files) paths and never sees row data. Untouched groups are
NOT rewritten (their latest version stays live), so write
amplification is O(touched groups), not O(table).
"""

from __future__ import annotations

import time
import uuid
from functools import reduce
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.layout import file_key, scan_file_key
from ..sources.base import WriteDisposition
from ..sources.hudi import HudiFixtureWriter, HudiTable
from .builder import PackageResult
from .ledger import Receipt, verify_frame


def _group_prunable_by_stats(
    path: str, keys: list[str], batch_bounds: dict[str, tuple]
) -> bool:
    """True when the parquet footer min/max of `path` on some merge key
    provably excludes every batch key: footer range and batch range are
    disjoint, the batch has no nulls in that column, and the footer
    actually carries usable stats. Any missing/undecodable stat keeps
    the file (returns False) — pruning is an optimization, never a
    correctness dependency."""
    try:
        import pyarrow.parquet as pq

        md = pq.read_metadata(path)
        names = list(md.schema.to_arrow_schema().names)
        for k in keys:
            b = batch_bounds.get(k)
            if b is None:
                continue
            bmn, bmx, has_null = b
            if has_null or bmn is None:
                continue  # null keys match rows bounds cannot see
            if k not in names:
                continue
            idx = names.index(k)
            fmn = fmx = None
            usable = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    usable = False
                    break
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except Exception:  # noqa: BLE001
                        usable = False
                        break
                fmn = mn if fmn is None else min(fmn, mn)
                fmx = mx if fmx is None else max(fmx, mx)
            if not usable or fmn is None:
                continue
            try:
                if fmx < bmn or fmn > bmx:
                    return True  # disjoint on this key column
            except TypeError:
                continue
        return False
    except Exception:  # noqa: BLE001 — unreadable footer: keep the group
        return False


_BLOOM_M = 1 << 16  # 65536 bits = 8 KiB per file-group version
_BLOOM_K = 4


def _bloom_key_expr(keys: list[str]):
    """Null-safe key-tuple encoding shared by bloom BUILD (at write)
    and PROBE (at routing) — a null key encodes to a sentinel no cast
    string can produce, matching the eqNullSafe routing semantics."""
    return F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(k).cast("string"), F.lit("\x00NULL")) for k in keys],
    )


class HudiDestination:
    """A Hudi CoW destination speaking the commit protocol — drop-in
    peer of IcebergDestination / DeltaDestination (same commit/verify
    surface, same Receipt), so LoadPipeline and StreamingLoadPipeline
    can land state in a Hudi table.

    `key_index="bloom"` layers Hudi's BLOOM-INDEX candidate pruning on
    top of the always-on footer min/max stats pruning: each committed
    file-group version gets an 8 KiB bloom filter over its merge-key
    tuples (`.hoodie/bloom/<fid>__<instant>.json` — the metadata-table
    `bloom_filters` partition of real Hudi, kept beside the timeline),
    and MERGE routing drops every group whose bloom provably holds no
    batch key. Stats pruning only helps when key RANGES are disjoint
    (monotonic keys); blooms prune scattered/random keys too — the
    HoodieBloomIndex shape. Missing/stale blooms keep the group
    (pruning stays an optimization, never a correctness dependency;
    false positives only cost an unpruned scan, false negatives are
    impossible). Build cost: one re-read of the instant's written
    files per commit; probe cost: O(batch keys) positions + O(live
    groups) 8 KiB reads — both bounded by the documented
    broadcast-scale batch / O(touched groups) control contracts."""

    def __init__(
        self,
        table_path: str | Path,
        merge_keys: list[str] | None = None,
        partition_by: list[str] | None = None,
        key_index: str = "stats",
    ):
        if key_index not in ("stats", "bloom"):
            raise ValueError("key_index must be 'stats' or 'bloom'")
        self.table_path = Path(table_path)
        self.merge_keys = merge_keys or []
        self.partition_by = list(partition_by or [])
        self.key_index = key_index

    def commit(
        self,
        spark: SparkSession,
        package: PackageResult,
        disposition: WriteDisposition = WriteDisposition.APPEND,
    ) -> Receipt:
        # the writer resumes the instant sequence from the existing
        # timeline, so per-run destination instances continue one
        # monotone commit lineage
        w = HudiFixtureWriter(self.table_path, partition_by=self.partition_by)
        batch = spark.read.parquet(package.data_path())
        if disposition is WriteDisposition.APPEND:
            w.commit(batch)
        elif disposition is WriteDisposition.MERGE:
            if not self.merge_keys:
                raise ValueError("merge disposition requires merge_keys")
            self._upsert(spark, w, batch)
        elif disposition is WriteDisposition.REPLACE:
            # INSERT_OVERWRITE_TABLE: a `.replacecommit` marks every
            # live group replaced and lands the batch as new groups —
            # no file deleted, so time travel to pre-replace instants
            # keeps resolving until the cleaner reclaims them
            w.replace_table(batch)
        else:
            raise ValueError(f"disposition {disposition} not supported by HudiDestination")
        if self.key_index == "bloom" and self.merge_keys:
            try:
                instant = HudiTable(self.table_path).instants()[-1]
            except Exception:
                instant = None
            if instant:
                self._write_blooms(spark, instant)
        return Receipt.issue(package, disposition, f"hudi://{self.table_path}")

    def _bloom_dir(self) -> Path:
        return self.table_path / ".hoodie" / "bloom"

    def _write_blooms(self, spark: SparkSession, instant: str) -> None:
        """Build one bloom per file-group version written at `instant`
        (one distributed pass over exactly those files; positions are
        DISTINCT set bits, <= m rows per group at any row count)."""
        import base64
        import json

        files = [
            p
            for p in self.table_path.rglob(f"*_{instant}.parquet")
            if ".hoodie" not in p.parts
        ]
        if not files:
            return
        from ..operators.sketches import bloom_positions

        per = (
            spark.read.parquet(*[str(p) for p in files])
            .select(
                F.regexp_extract(scan_file_key(), r"([^/]+)_0-0-0_\d+\.parquet$", 1).alias(
                    "_fid"
                ),
                F.explode(
                    bloom_positions(
                        _bloom_key_expr(self.merge_keys), _BLOOM_M, _BLOOM_K
                    )
                ).alias("p"),
            )
            # collect_set deduplicates with map-side partial agg — a
            # pre-distinct would just double the shuffle
            .groupBy("_fid")
            .agg(F.collect_set("p").alias("ps"))
            .collect()
        )
        rel_by_fid = {
            p.name.rsplit("_0-0-0_", 1)[0]: str(p.relative_to(self.table_path))
            for p in files
        }
        bdir = self._bloom_dir()
        bdir.mkdir(parents=True, exist_ok=True)
        for r in per:
            bits = bytearray(_BLOOM_M // 8)
            for pos in r["ps"]:
                bits[pos >> 3] |= 1 << (pos & 7)
            (bdir / f"{r['_fid']}__{instant}.json").write_text(
                json.dumps(
                    {
                        "m": _BLOOM_M,
                        "k": _BLOOM_K,
                        "path": rel_by_fid.get(r["_fid"], ""),
                        "bits": base64.b64encode(bytes(bits)).decode(),
                    }
                )
            )

    def _bloom_prune(self, spark: SparkSession, batch, live: list) -> list:
        """Drop live groups whose bloom filter provably holds no batch
        key. A group survives when ANY batch key has all k positions
        set (or when its bloom is missing/stale — conservative)."""
        import base64
        import json

        import numpy as np

        from ..operators.sketches import bloom_positions

        key_pos = (
            batch.select(
                bloom_positions(
                    _bloom_key_expr(self.merge_keys), _BLOOM_M, _BLOOM_K
                ).alias("ps")
            )
            .distinct()
            .collect()
        )
        if not key_pos:
            return live
        pos = np.asarray([r["ps"] for r in key_pos], dtype=np.int64)
        out = []
        for fid, part, path in live:
            inst = Path(path).name.rsplit("_", 1)[1].split(".")[0]
            bj = self._bloom_dir() / f"{fid}__{inst}.json"
            if not bj.exists():
                out.append((fid, part, path))
                continue
            try:
                meta = json.loads(bj.read_text())
                if meta.get("m") != _BLOOM_M or meta.get("k") != _BLOOM_K:
                    out.append((fid, part, path))
                    continue
                bits = np.frombuffer(base64.b64decode(meta["bits"]), dtype=np.uint8)
                hit = ((bits[pos >> 3] >> (pos & 7)) & 1).all(axis=1).any()
            except Exception:  # noqa: BLE001 — unreadable bloom: keep
                out.append((fid, part, path))
                continue
            if bool(hit):
                out.append((fid, part, path))
        return out

    def _upsert(self, spark: SparkSession, w: HudiFixtureWriter, batch) -> None:
        """Copy-on-write UPSERT: ONE new commit carrying a new version
        of every TOUCHED file group (its surviving rows + the batch
        rows keyed into it) plus one new group for inserts. Batch keys
        and the (key -> group) routing table are broadcast (the
        documented broadcast-scale batch contract shared with the
        Iceberg/Delta merge paths); survivors never leave the
        executors, and only O(touched groups) file ids reach control."""
        t = HudiTable(self.table_path)
        keys = self.merge_keys
        data_cols = list(batch.columns)
        try:
            live = t.live_file_groups()
        except Exception:
            live = []
        if not live:
            w.commit(batch)  # merge into an empty table is an insert
            return
        # STATS-PRUNED ROUTING (r8 verdict item 3): before scanning
        # live groups to tag batch keys, drop every group whose parquet
        # footer min/max on the merge keys provably cannot overlap the
        # batch's key range — the same candidate pruning Hudi's bloom/
        # column-stats index does before tagging. The batch bounds are
        # one tiny agg (2 scalars per key column); footers are O(live
        # groups) driver-side metadata reads, each a few KB. At a
        # streaming-upsert table this turns the per-batch routing scan
        # from O(table) into O(groups overlapping the batch) — pruning
        # is conservative (missing stats / non-comparable types keep
        # the group) so correctness never depends on it: a pruned
        # group, by bounds, cannot hold any batch key.
        bounds_row = batch.agg(
            *[F.min(F.col(k)).alias(f"_mn_{i}") for i, k in enumerate(keys)],
            *[F.max(F.col(k)).alias(f"_mx_{i}") for i, k in enumerate(keys)],
            *[
                F.sum(F.col(k).isNull().cast("long")).alias(f"_nl_{i}")
                for i, k in enumerate(keys)
            ],
        ).collect()[0]
        batch_bounds = {
            k: (
                bounds_row[f"_mn_{i}"],
                bounds_row[f"_mx_{i}"],
                bool(bounds_row[f"_nl_{i}"]),
            )
            for i, k in enumerate(keys)
        }
        kept = [
            g
            for g in live
            if not _group_prunable_by_stats(g[2], keys, batch_bounds)
        ]
        if self.key_index == "bloom":
            # BLOOM-INDEX ROUTING: stats pruning only removes groups
            # with disjoint key RANGES; the per-group bloom also prunes
            # overlapping-range groups that hold none of the batch's
            # scattered keys — the HoodieBloomIndex candidate cut.
            kept = self._bloom_prune(spark, batch, kept)
        self._last_routing_scan_paths = sorted(p for _, _, p in kept)
        # survivors come only from TOUCHED groups, and a touched group
        # is by definition un-pruned — so the routing scan and every
        # downstream use of `cur` can run on the kept subset
        live = kept
        if not live:
            w.commit(batch)  # no group can hold any batch key: all inserts
            return
        fid_map = spark.createDataFrame(
            [(file_key(p), fid) for fid, _part, p in live], "_path string, _fid string"
        )
        cur = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[p for _, _, p in live])
            .withColumn("_path", scan_file_key())
            .join(F.broadcast(fid_map), on="_path")
            .drop("_path")
        )
        # schema-widening merge: survivors from pre-widening groups
        # lack the batch's new columns — null-fill them so the group
        # rewrite lands the evolved schema (Hudi's evolution-on-upsert)
        for c in data_cols:
            if c not in cur.columns:
                cur = cur.withColumn(c, F.lit(None).cast(batch.schema[c].dataType))
        keys_df = batch.select(*keys).distinct()
        # (key -> existing group) routing: which group currently holds
        # each updated key (a key lives in exactly one group under
        # upsert discipline)
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"c.{k}").eqNullSafe(F.col(f"k.{k}")) for k in keys],
        )
        key_fid = (
            cur.alias("c")
            .join(F.broadcast(keys_df.alias("k")), on=cond, how="left_semi")
            .select(*keys, "_fid")
            .distinct()
        )
        touched = [r["_fid"] for r in key_fid.select("_fid").distinct().collect()]
        fid_part = {fid: part for fid, part, _ in live}
        pcols = list(w.partition_by)
        if pcols:
            # Hudi non-global-index semantics would keep a row whose
            # partition key changed in its OLD partition's group — the
            # in-file value would then disagree with the directory and
            # partition pruning would silently miss the row. Refuse:
            # a partition move is a delete+insert, not an upsert.
            pc_cond = reduce(
                lambda a, b: a & b,
                [F.col(f"b.{k}").eqNullSafe(F.col(f"c.{k}")) for k in keys],
            )
            moved = (
                batch.alias("b")
                .join(cur.select(*keys, *pcols).alias("c"), on=pc_cond, how="inner")
                .filter(
                    reduce(
                        lambda a, b: a | b,
                        [~F.col(f"b.{p}").eqNullSafe(F.col(f"c.{p}")) for p in pcols],
                    )
                )
                .limit(1)
                .count()
            )
            if moved:
                raise ValueError(
                    "MERGE batch changes a partition column on an existing "
                    "key — a partition move is delete+insert, not an upsert "
                    "(Hudi non-global-index would strand the row in its old "
                    "partition directory and break pruning)"
                )
        # updates ride to their existing group; inserts open new groups
        route_cond = reduce(
            lambda a, b: a & b,
            [F.col(f"b.{k}").eqNullSafe(F.col(f"kf.{k}")) for k in keys],
        )
        routed = (
            batch.alias("b")
            .join(F.broadcast(key_fid.alias("kf")), on=route_cond, how="inner")
            .select(*[F.col(f"b.{c}") for c in data_cols], F.col("kf._fid").alias("_fid"))
        )
        inserts = (
            batch.alias("b")
            .join(F.broadcast(key_fid.alias("kf")), on=route_cond, how="left_anti")
            .select(*data_cols)
        )
        anti_cond = reduce(
            lambda a, b: a & b,
            [F.col(f"c.{k}").eqNullSafe(F.col(f"k.{k}")) for k in keys],
        )
        survivors = (
            cur.filter(F.col("_fid").isin(touched))
            .alias("c")
            .join(F.broadcast(keys_df.alias("k")), on=anti_cond, how="left_anti")
            .select(*data_cols, "_fid")
        )
        new_versions = survivors.unionByName(routed)

        import shutil

        from ..sources.partitioned_write import HIVE_NULL, hive_partitioned_write

        tmp_roots: list[str] = []
        groups: list[tuple[str, str, list[str]]] = []
        try:
            tmp1, parts1 = hive_partitioned_write(
                new_versions, ["_fid"], drop_partition_cols=True
            )
            tmp_roots.append(tmp1)
            # rewritten versions stay in their group's partition dir
            groups.extend(
                (raw["_fid"], fid_part.get(raw["_fid"], ""), files)
                for raw, files in parts1
            )
            if not inserts.isEmpty():
                if pcols:
                    # one NEW group per insert partition — the same
                    # distributed hive split commit() uses; the driver
                    # sees only O(partitions) directory names
                    tmp2, parts2 = hive_partitioned_write(
                        inserts, pcols, drop_partition_cols=False
                    )
                    tmp_roots.append(tmp2)
                    base = "g" + uuid.uuid4().hex[:8]
                    for raw, files in parts2:
                        part_path = "/".join(
                            f"{c}={raw[c] if raw[c] is not None else HIVE_NULL}"
                            for c in pcols
                        )
                        fid = f"{base}-{part_path.replace('/', '_').replace('=', '-')}"
                        groups.append((fid, part_path, files))
                else:
                    import tempfile

                    tmp2 = tempfile.mkdtemp(prefix="hudi_ins_")
                    tmp_roots.append(tmp2)
                    inserts.coalesce(1).write.mode("overwrite").parquet(tmp2)
                    groups.append(
                        (
                            "g" + uuid.uuid4().hex[:8],
                            "",
                            sorted(str(p) for p in Path(tmp2).glob("*.parquet")),
                        )
                    )
            w.commit_file_groups(groups, operation="UPSERT")
        finally:
            for r in tmp_roots:
                shutil.rmtree(r, ignore_errors=True)

    def verify(self, spark: SparkSession, receipt: Receipt, package: PackageResult) -> Receipt:
        return verify_frame(spark, receipt, package, lambda: self.read(spark), self.merge_keys)

    def read(self, spark: SparkSession):
        """The copy-on-write resolved current state — exactly what any
        external Hudi reader sees at the latest instant."""
        return HudiTable(self.table_path).read(spark)
