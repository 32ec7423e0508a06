"""Batch/column statistics and deterministic dataset value hashes.

Re-expresses the reference's statistics layer
(`BatchStats`/`ColumnStats`/`TypedScalar`,
`crates/cdf-kernel/src/statistics.rs:32-90`; compute `:517`, merge
`:531`): per-column min/max/null-count profiles that serve as zone
maps for package pruning (`crates/cdf-engine/src/statistics_pruning.rs`).

The dataset *value hash* replaces the reference's byte-exact Arrow
segment hashing: Spark's task ordering is nondeterministic, so we hash
values, not bytes — per-row xxhash64 over canonicalized columns,
combined with an order- and partitioning-independent MULTISET fold
(sum of row hashes mod 2^64). A plain XOR fold looks tempting but
cancels duplicate PAIRS: {X, X} xors to 0, so swapping a duplicated
pair for {Z, Z} preserves both hash and count — invisible tampering,
and training corpora are full of exact duplicates (the reference
hashes bytes exactly, `crates/cdf-conformance/golden/.../expected.json`).
The sum fold keeps every multiplicity distinct while staying
commutative/associative. One pass, map-side combined, no shuffle
beyond the final 1-row agg; the sum is computed as four 16-bit limb
sums so it never overflows Spark's ANSI long arithmetic before
~2^48 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LIMB_SHIFTS = (0, 16, 32, 48)


def _vhash_aggs(cols: list[str]) -> list:
    """Aggregates for the multiset value hash: per-limb sums of the
    row xxhash64 (16-bit limbs -> ANSI-safe long sums)."""
    rh = F.xxhash64(*[F.col(c) for c in cols])
    return [
        F.sum(F.shiftrightunsigned(rh, k).bitwiseAND(F.lit(0xFFFF))).alias(f"__vh{k}")
        for k in _LIMB_SHIFTS
    ]


def _vhash_render(row: dict, n: int) -> str:
    """Recombine limb sums into sum-mod-2^64 and render the hash."""
    total = 0
    for k in _LIMB_SHIFTS:
        total += int(row[f"__vh{k}"] or 0) << k
    return f"xxh64-msum:{total & 0xFFFFFFFFFFFFFFFF:016x}:{n}"


def dataset_value_hash(df: DataFrame, columns: list[str] | None = None) -> str:
    """Order/partitioning-independent content hash of a DataFrame.

    Multiset-sum-combined xxhash64 over the row's columns (sorted by
    name, hashed in their NATIVE types — xxhash64 folds nulls and
    every atomic/nested type deterministically, and skipping the
    cast-to-string keeps the scan codegen'd and branch-free).
    Deterministic across runs, partitionings, and cluster sizes;
    duplicate rows each contribute (no pair cancellation).
    """
    cols = columns or sorted(df.columns)
    agg = df.agg(
        *_vhash_aggs(cols),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    row = agg.asDict()
    return _vhash_render(row, int(row["n"]))


_STATS_TYPES = (
    T.NumericType,
    T.StringType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.BooleanType,
)


def column_stats(df: DataFrame) -> dict[str, dict]:
    """Per-column min/max/null-count profile (one distributed pass).

    Complex types get null counts only (marked incomplete), matching
    the reference's completeness marking.
    """
    stats, _ = profile_and_hash(df, with_hash=False)
    return stats


def profile_and_hash(df: DataFrame, with_hash: bool = True) -> tuple[dict[str, dict], str | None]:
    """Column stats AND dataset value hash in a SINGLE aggregation pass
    (one job over the data instead of two — at 100 TB the scan is the
    cost, so every evidence product shares it)."""
    aggs = []
    plan: list[tuple[str, bool]] = []
    for f in df.schema.fields:
        simple = isinstance(f.dataType, _STATS_TYPES)
        plan.append((f.name, simple))
        c = F.col(f.name)
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"{f.name}__nulls"))
        if simple:
            aggs.append(F.min(c).alias(f"{f.name}__min"))
            aggs.append(F.max(c).alias(f"{f.name}__max"))
    aggs.append(F.count(F.lit(1)).alias("__rows"))
    if with_hash:
        aggs.extend(_vhash_aggs(sorted(df.columns)))
    row = df.agg(*aggs).collect()[0].asDict()

    out: dict[str, dict] = {}
    for name, simple in plan:
        entry: dict = {
            "null_count": int(row[f"{name}__nulls"] or 0),
            "complete": simple,
        }
        if simple:
            entry["min"] = _scalar(row[f"{name}__min"])
            entry["max"] = _scalar(row[f"{name}__max"])
        out[name] = entry
    n = int(row["__rows"])
    out["__table"] = {"rows": n}
    vhash = _vhash_render(row, n) if with_hash else None
    return out, vhash


def _scalar(v):
    """JSON-safe typed scalar rendering."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def footer_profile(data_dir, schema) -> tuple[dict[str, dict], list[str]]:
    """Exact per-column stats harvested from WRITTEN parquet footers —
    at-rest evidence at O(files) driver cost, zero data re-scan.

    The footers are derived by the encoder from the actual written
    bytes, so row counts and min/max here attest to data AT REST (the
    property the old full re-scan bought for ~2.5 s per 12M-row batch;
    footers buy it for ~10 ms). Conservative: a column is reported in
    `incomplete` (second return value) whenever ANY chunk lacks usable
    statistics — INT96 timestamps (no stats by format), long binary
    values (parquet-mr drops stats > 4 KiB rather than truncate, so a
    present value is exact), missing null counts — and the caller runs
    a targeted distributed completion over just those columns.
    All-null chunks legitimately carry no min/max and do not mark the
    column incomplete (min/max stay None, matching an aggregation over
    an all-null column).

    Returns (stats_by_column, incomplete_column_names); stats rows
    total under key `__table`.
    """
    import datetime as _dt
    from pathlib import Path

    import pyarrow.parquet as pq

    def norm(v):
        # Spark writes timestamps isAdjustedToUTC -> pyarrow returns
        # tz-aware; the aggregation path yields naive UTC datetimes —
        # normalize so renderings (and cursor positions) are identical
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v

    from pyspark.sql import types as _T

    # decimal stats surface from footers in physical (bytes/int) form
    # whose lexical fold would be wrong — route them through the exact
    # distributed completion instead
    simple = {
        f.name: isinstance(f.dataType, _STATS_TYPES)
        and not isinstance(f.dataType, _T.DecimalType)
        for f in schema.fields
    }
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    bad: set[str] = set()
    rows_total = 0
    for p in sorted(Path(data_dir).glob("*.parquet")):
        md = pq.read_metadata(str(p))
        rows_total += md.num_rows
        for rg in range(md.num_row_groups):
            rg_meta = md.row_group(rg)
            for ci in range(rg_meta.num_columns):
                col = rg_meta.column(ci)
                name = col.path_in_schema
                root = name.split(".")[0]
                if root not in simple:
                    continue
                if not simple[root] or "." in name:
                    continue  # complex types: null-count-only via completion
                st = col.statistics
                if st is None or not st.has_null_count:
                    bad.add(root)
                    continue
                nc = int(st.null_count)
                nulls[root] = nulls.get(root, 0) + nc
                if st.has_min_max:
                    lo, hi = norm(st.min), norm(st.max)
                    if root not in mins or lo < mins[root]:
                        mins[root] = lo
                    if root not in maxs or hi > maxs[root]:
                        maxs[root] = hi
                elif nc < rg_meta.num_rows:
                    # values exist but no stats (e.g. INT96, oversized
                    # binary) -> needs distributed completion
                    bad.add(root)

    out: dict[str, dict] = {}
    incomplete: list[str] = []
    for f in schema.fields:
        if not simple[f.name] or f.name in bad:
            incomplete.append(f.name)
            continue
        out[f.name] = {
            "null_count": int(nulls.get(f.name, 0)),
            "complete": True,
            "min": _scalar(mins.get(f.name)),
            "max": _scalar(maxs.get(f.name)),
        }
    out["__table"] = {"rows": rows_total}
    return out, incomplete


def data_files(path) -> list[str]:
    """A parquet dataset's files, listed as Spark's file index lists
    them: recursively, skipping every name that starts with `_` or `.`
    (`_SUCCESS`, `.crc` checksums, `_temporary`)."""
    import os

    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(root, n) for n in names if not n.startswith(("_", "."))]
    return out


def parquet_row_count(path) -> int:
    """Row count from the footers of `data_files(path)`: O(files) driver
    time, no Spark job, and equal to `spark.read.parquet(path).count()`.
    A missing path counts 0 rows."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in data_files(path))


def _observe_count(df: DataFrame):
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def prune_segments(segments: list[dict], column: str, op: str, value) -> list[dict]:
    """Zone-map pruning over segment manifests: keep segments whose
    [min,max] may satisfy `column op value` (reference outcomes
    Pruned / RetainedMayMatch, `statistics_pruning.rs:17-60`).
    Conservative: segments lacking stats for the column are retained.
    """
    out = []
    for seg in segments:
        st = seg.get("stats", {}).get(column)
        if not st or not st.get("complete") or st.get("min") is None:
            out.append(seg)  # RetainedConservatively
            continue
        lo, hi = st["min"], st["max"]
        keep = {
            "eq": lambda: lo <= value <= hi,
            "ne": lambda: True,
            "lt": lambda: lo < value,
            "le": lambda: lo <= value,
            "gt": lambda: hi > value,
            "ge": lambda: hi >= value,
        }.get(op, lambda: True)()
        if keep:
            out.append(seg)
    return out
