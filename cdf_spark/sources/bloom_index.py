"""Per-data-file BLOOM column index for scan-side data skipping —
the point-lookup complement of min/max stats pruning, shared by the
Delta and Iceberg readers.

Real engines ship exactly this: Delta Lake bloom filter indexes
(`_delta_index/` per-file sidecars), Iceberg parquet bloom filters
(write-time `write.parquet.bloom-filter-enabled.column.*`), Hudi's
metadata-table `bloom_filters` partition. Min/max bounds prune a file
only when the probed value falls OUTSIDE its range — useless for a
point lookup on a high-cardinality key whose every file spans nearly
the full domain (uuid-ish ids, hashes, emails). A per-file bloom over
the column answers "is this exact value possibly in this file" and
prunes the rest of the table.

Layout: `<table_root>/_bloom_index/<col>/<md5(relpath)[:16]>.json`
holding {m, k, path, coltype, bits(base64)} — one sidecar per (data
file, column), keyed by the file's table-relative path so reclaimers
and rebuilds stay root-scoped (the linked-file discipline every
cleaner here follows). Files without a sidecar are kept
(conservative): an index can be partial, stale, or absent and only
ever WIDENS the scan.

Probe discipline is TYPED twice over. Build refuses any column that
is not integer-family or string (floats/bools/dates/decimals do not
round-trip Spark's CAST(col AS STRING) against Python's str(), so no
probe encoding could be proven equal) and records the column family
in the sidecar. Probe prunes only when the literal's Python type
matches the RECORDED family: an int literal against a string-column
index (or vice versa) returns None, because Spark's coercing equality
can match cells the build encoded differently (col "05" = 5 matches
rows whose bloom bits were set for "05", not "5") — without the gate,
bloom pruning would be strictly less safe than the typed stats path
(`_file_can_match`) it augments. The tri-state combinator mirrors
`_file_can_match`: only a provable False prunes.

Scale: the build is one distributed pass over the indexed files
(positions are DISTINCT set bits, <= m rows per file, map-side
partial dedup) and sidecars are written EXECUTOR-SIDE via
`groupBy(_path).applyInPandas` — each file's 8 KiB bitset is built
and persisted where its positions land, and only one status row per
file reaches the driver (a 100k-file backfill costs the driver
O(files) tiny rows, never the ~0.5 MB/file of raw bit positions).
Sidecars are read O(candidate files) at plan time — the same
metadata-read budget the footer-stats path already spends.
"""

from __future__ import annotations

import base64
import hashlib
import json
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.layout import scan_file_key

BLOOM_DIR = "_bloom_index"
BLOOM_M = 1 << 16  # 65536 bits = 8 KiB per (file, column)
BLOOM_K = 4


def _sidecar(root: Path, col: str, rel: str) -> Path:
    return root / BLOOM_DIR / col / (
        hashlib.md5(rel.encode()).hexdigest()[:16] + ".json"
    )


def build_bloom_index(
    spark: SparkSession,
    root: str | Path,
    col: str,
    files: list[str],
    m: int = BLOOM_M,
    k_hashes: int = BLOOM_K,
) -> dict:
    """Build (or refresh) the bloom index of `col` for the given data
    files (absolute paths under `root`). Files that already have a
    sidecar are skipped — incremental by default, so a maintenance
    pass after each commit only indexes the new files. Sidecars are
    written EXECUTOR-SIDE (one applyInPandas group per file); only a
    one-row-per-file status frame reaches the driver, so a backfill
    over a 100k-file table costs the driver O(files) short strings,
    not gigabytes of bit positions. Refuses columns outside the
    int-family/string probe contract (see module docstring). Returns
    {built, skipped, linked_skipped, unmatched}."""
    from ..operators.sketches import bloom_positions

    root = Path(root)
    todo: list[tuple[str, str]] = []  # (abs, rel)
    skipped = linked_skipped = 0
    for f in files:
        try:
            rel = str(Path(f).resolve().relative_to(root.resolve()))
        except ValueError:
            # LINKED file (absolute path outside this root, from
            # metadata translation) — its sidecars belong to the
            # SOURCE table; never index it here
            linked_skipped += 1
            continue
        sc = _sidecar(root, col, rel)
        if sc.exists() and sidecar_is_current(sc):
            skipped += 1
            continue
        # missing OR legACY (pre-typed-probe, no coltype — those never
        # prune: maybe_contains returns undecidable without the type
        # family) — rebuild so pre-upgrade tables regain pruning
        todo.append((str(Path(f).resolve()), rel))
    if not todo:
        return {"built": 0, "skipped": skipped, "linked_skipped": linked_skipped}
    df = spark.read.parquet(*[a for a, _ in todo])
    coltype = _probe_family(df.schema[col].dataType.simpleString())
    if coltype is None:
        raise ValueError(
            f"build_bloom_index({col!r}): column type "
            f"{df.schema[col].dataType.simpleString()!r} has no provable "
            "probe encoding (CAST AS STRING does not round-trip Python "
            "str()); only integer-family and string columns are indexable"
        )
    positions = (
        df.select(
            scan_file_key().alias("_path"),
            F.explode(
                bloom_positions(F.col(col).cast("string"), m, k_hashes)
            ).alias("p"),
        )
        # DISTINCT before the group shuffle: map-side partial dedup
        # caps each file's contribution at m rows
        .distinct()
    )
    root_s, col_s = str(root), col

    def _write_group(pdf):
        import os
        from pathlib import Path as _P

        import pandas as pd

        abspath = pdf["_path"].iloc[0]
        # derive the table-relative path IN the executor instead of
        # shipping an O(files) {abs: rel} map in the closure (a 100k-
        # file backfill would serialize MBs into every task — the
        # driver-budget failure this executor-side path exists to fix)
        try:
            rel = str(_P(abspath).resolve().relative_to(_P(root_s).resolve()))
        except ValueError:
            # scanned path outside the root (symlinks); report it so
            # the driver counts it unmatched
            return pd.DataFrame({"path": [abspath], "built": [False]})
        if not (_P(root_s) / rel).exists():
            # a key that names no real file would orphan its sidecar
            # where no probe looks; the driver counts it unmatched
            return pd.DataFrame({"path": [abspath], "built": [False]})
        bits = bytearray(m // 8)
        for p in pdf["p"]:
            p = int(p)
            bits[p >> 3] |= 1 << (p & 7)
        sc = _sidecar(Path(root_s), col_s, rel)
        sc.parent.mkdir(parents=True, exist_ok=True)
        tmp = sc.with_suffix(".json.tmp")
        tmp.write_text(
            json.dumps(
                {
                    "m": m,
                    "k": k_hashes,
                    "path": rel,
                    "coltype": coltype,
                    "bits": base64.b64encode(bytes(bits)).decode(),
                }
            )
        )
        os.replace(tmp, sc)  # atomic: no torn sidecar is ever readable
        return pd.DataFrame({"path": [abspath], "built": [True]})

    status = (
        positions.groupBy("_path")
        .applyInPandas(_write_group, "path string, built boolean")
        .collect()
    )
    seen = {r["path"] for r in status if r["built"]}
    built = len(seen)
    # every todo file NOT built executor-side is accounted for below
    # (footer-verified empty -> zero sidecar; otherwise unmatched), so
    # built=False status rows need no separate tally
    unmatched = 0
    for abspath, rel in todo:
        if abspath in seen:
            continue
        # no positions came back under this file's path. Either the
        # file is genuinely empty (an all-zero sidecar is correct) or
        # its scan key didn't string-match the resolved path
        # (symlinks). Writing an all-zero bloom for a
        # NON-empty file would manufacture false negatives — the one
        # failure mode a bloom must never have — so verify emptiness
        # from the footer and otherwise write NOTHING (a missing
        # sidecar only widens the scan).
        try:
            import pyarrow.parquet as pq

            if pq.read_metadata(abspath).num_rows > 0:
                unmatched += 1
                continue
        except Exception:  # noqa: BLE001 — unreadable footer: skip
            unmatched += 1
            continue
        sc = _sidecar(root, col, rel)
        sc.parent.mkdir(parents=True, exist_ok=True)
        sc.write_text(
            json.dumps(
                {
                    "m": m,
                    "k": k_hashes,
                    "path": rel,
                    "coltype": coltype,
                    "bits": base64.b64encode(bytes(bytearray(m // 8))).decode(),
                }
            )
        )
        built += 1
    return {
        "built": built,
        "skipped": skipped,
        "linked_skipped": linked_skipped,
        "unmatched": unmatched,
    }


def sweep_stale_sidecars(root: str | Path) -> list[str]:
    """Reclaim sidecars whose data file no longer exists (called by
    each format's storage-reclamation op after it deletes files).
    Keyed by the sidecar's own table-RELATIVE path record, so the
    sweep can never touch anything outside this table root — the same
    linked-file discipline every reclaimer here follows."""
    root = Path(root)
    d = root / BLOOM_DIR
    removed: list[str] = []
    if not d.is_dir():
        return removed
    for sc in sorted(d.rglob("*.json")):
        try:
            rel = json.loads(sc.read_text()).get("path", "")
        except Exception:  # noqa: BLE001 — unreadable: leave it
            continue
        if rel and not (root / rel).exists():
            sc.unlink(missing_ok=True)
            removed.append(str(sc))
    return removed


def indexed_columns(root: str | Path) -> list[str]:
    d = Path(root) / BLOOM_DIR
    return sorted(p.name for p in d.iterdir() if p.is_dir()) if d.is_dir() else []


def sidecar_is_current(path) -> bool:
    """True iff a sidecar file carries the typed-probe `coltype`
    field. Reads only the HEAD of the file: the writer emits keys in
    insertion order (m, k, path, coltype, bits), so the field — when
    present — appears before the ~11 KB base64 bitset; a full
    json.loads per already-indexed file would cost a 100k-file table
    ~1 GB of driver reads on EVERY incremental pass just to learn the
    sidecars are fine."""
    try:
        with open(path, "rb") as fh:
            return b'"coltype"' in fh.read(4096)
    except OSError:
        return False


def _probe_family(simple_type: str) -> str | None:
    """The probe-type family of a Spark column type, or None when the
    column has no provable probe encoding (CAST AS STRING must equal
    Python str() of an equal literal — true only for integers and
    strings)."""
    if simple_type in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if simple_type == "string":
        return "string"
    return None


def _encode_probe(value, coltype: str | None) -> str | None:
    """The probe string for a literal — must equal Spark's
    CAST(col AS STRING) of a matching cell. Only int and str provably
    round-trip, and ONLY against a column of the SAME recorded family:
    Spark's coercing equality can match an int literal against string
    cells the build encoded differently (col '05' = 5), so a
    cross-family probe (or a legacy sidecar with no recorded family)
    returns None and the typed stats path decides."""
    if isinstance(value, bool):  # bool is an int subclass — refuse first
        return None
    if isinstance(value, int) and coltype == "int":
        return str(value)
    if isinstance(value, str) and coltype == "string":
        return value
    return None


class BloomProbe:
    """Per-scan cached prober: maybe_contains(col, rel, value) is
    tri-state — False only when a sidecar exists, parses, and proves
    the value absent."""

    def __init__(self, root: str | Path, cols: list[str]):
        self.root = Path(root)
        self.cols = set(cols)
        self._cache: dict[tuple[str, str], tuple | None] = {}

    def _load(self, col: str, rel: str):
        key = (col, rel)
        if key not in self._cache:
            sc = _sidecar(self.root, col, rel)
            loaded = None
            if sc.exists():
                try:
                    meta = json.loads(sc.read_text())
                    loaded = (
                        int(meta["m"]),
                        int(meta["k"]),
                        base64.b64decode(meta["bits"]),
                        meta.get("coltype"),  # legacy sidecars: None
                    )
                except Exception:  # noqa: BLE001 — unreadable: no index
                    loaded = None
            self._cache[key] = loaded
        return self._cache[key]

    def maybe_contains(self, col: str, rel: str, value) -> bool | None:
        if col not in self.cols:
            return None
        loaded = self._load(col, rel)
        if loaded is None:
            return None
        m, k, bits, coltype = loaded
        enc = _encode_probe(value, coltype)
        if enc is None:
            return None
        from ..operators.text import hash64_py

        for j in range(k):
            p = hash64_py(f"{j}:{enc}") % m
            if not (bits[p >> 3] >> (p & 7)) & 1:
                return False
        return True


def bloom_can_match(expr, probe: BloomProbe, rel: str) -> bool | None:
    """Tri-state: can any row of data file `rel` satisfy `expr`, per
    the bloom index? Only equality (and conjunctions/disjunctions of
    equalities) ever prove False — every other shape is undecidable
    here and stays with the stats/partition prune. Same conservative
    combinator discipline as `iceberg._file_can_match`."""
    from ..expressions.ast import Binary, Col, Lit

    if not isinstance(expr, Binary):
        return None
    op = expr.op
    if op in ("and", "or"):
        left = bloom_can_match(expr.left, probe, rel)
        right = bloom_can_match(expr.right, probe, rel)
        if op == "and":
            if left is False or right is False:
                return False
            return True if (left is True and right is True) else None
        if left is False and right is False:
            return False
        return True if (left is True or right is True) else None
    # null-safe equality against a NON-null literal is plain equality
    # for pruning purposes (IN-lists need no special case: they lower
    # to OR-of-eq, which the combinator above folds)
    if op not in ("eq", "is_not_distinct_from"):
        return None
    l, r = expr.left, expr.right
    if isinstance(l, Lit) and isinstance(r, Col):
        l, r = r, l
    if not (isinstance(l, Col) and isinstance(r, Lit)):
        return None
    if r.value is None:
        return None  # eq NULL never matches rows, but that's not ours to decide
    return None if probe.maybe_contains(l.name, rel, r.value) in (True, None) else False
