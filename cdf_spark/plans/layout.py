"""Physical layout levers: bucketing for co-located joins, salting for
skewed aggregations.

SCALE.md's deployment levers made concrete:

- **Bucketing**: persist both sides of a recurring fact-fact join
  bucketed by the join key; subsequent joins read co-located buckets
  with NO shuffle on either side (verified by plan inspection in
  tests). This is Spark's answer to the reference's co-located
  partition authority.
- **Salting**: a hot key overwhelms one reducer in a groupBy. AQE
  splits skewed JOIN partitions but not aggregations; two-phase
  salted aggregation bounds any reducer at 1/salt of the hot key.
- **Scan-file identity**: which file a scan row came from, and the
  per-file values (partition columns of linked files) attached to it.
  Every reader that joins scan rows to manifest, log or delete-file
  paths keys both sides with `scan_file_key` / `file_key`.
"""

from __future__ import annotations

import re
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCHEME = r"^file:/+"


def scan_file_key() -> Column:
    """The file a scan row came from, as the raw filesystem path.

    This is the one file-key rule. Spark reports
    `_metadata.file_path` as a percent-encoded URI
    (`file:/data/a%20b+c%25d/x.parquet`), while manifests, logs and
    delete files name the raw path (`/data/a b+c%d/x.parquet`). The key
    percent-decodes the URI and collapses the local scheme. `url_decode`
    is form decoding (`+` is a space), so a literal `+` is escaped
    first. `file_key` applies the same scheme collapse to paths that
    are already raw, so both sides of every (file, ...) join agree for
    any file name."""
    uri = F.regexp_replace(F.col("_metadata.file_path"), r"\+", "%2B")
    return file_key(F.url_decode(uri))


def file_key(path):
    """Driver-side twin of `scan_file_key` for a raw path (a manifest,
    log or delete-file entry): a `str` gives a `str`, a Column (a
    delete file's `file_path` column) gives a Column."""
    if isinstance(path, Column):
        return F.regexp_replace(path, _SCHEME, "/")
    return re.sub(_SCHEME, "/", path)


# Python class -> Spark type of its mapping column. bool comes before
# int: True is an int to Python, and must not read as epoch day 1.
_VALUE_CLASSES = {
    "boolean": ((bool,), T.BooleanType()),
    "bigint": ((int,), T.LongType()),
    "double": ((float,), T.DoubleType()),
    "string": ((str,), T.StringType()),
    "binary": ((bytes, bytearray), T.BinaryType()),
}


def _value_class(v) -> str:
    for name, (classes, _t) in _VALUE_CLASSES.items():
        if isinstance(v, classes):
            return name
    raise TypeError(f"file value {v!r} ({type(v).__name__}) has no in-plan conversion")


def _convert(col: Column, cls: str, dtype: T.DataType, name: str) -> Column:
    """Raw value -> `dtype`, the conversion the old per-file literal
    applied. Integers on date/timestamp columns are Iceberg's epoch-day
    and epoch-microsecond encodings (Spark's int->date cast is invalid
    and long->timestamp means seconds); everything else casts, so
    Delta's partitionValues strings parse as Spark parses them."""
    is_ts = isinstance(dtype, (T.TimestampType, T.TimestampNTZType))
    if cls == "boolean" and (is_ts or isinstance(dtype, T.DateType)):
        raise ValueError(f"file value for {name!r}: a boolean is not a {dtype.simpleString()}")
    if cls == "bigint" and isinstance(dtype, T.DateType):
        return F.date_add(F.lit("1970-01-01").cast("date"), col.cast("int"))
    if cls == "bigint" and is_ts:
        return F.timestamp_micros(col).cast(dtype)
    return col.cast(dtype)


def attach_file_values(
    df: DataFrame,
    values_by_file: Mapping[str, Mapping[str, object]],
    fields: list[tuple[str, T.DataType]],
) -> DataFrame:
    """Attach per-file values to a scan as typed columns.

    `df` must still resolve `_metadata` (a scan, or projections over
    one). `values_by_file` maps a raw file path to {column: raw value};
    `fields` names the (column, type) pairs to reconstitute. One
    broadcast (file key -> raw values) mapping joins the scan, so a
    read stays one file scan however many partitions it spans, and
    the raw values are converted in-plan (`_convert`). Per column, a
    file whose values omit the column keeps the scan's own column
    (null when the scan has none). A scan file missing from the
    mapping raises on every attached column: Catalyst prunes unread
    columns, so a guard on one column alone would not survive a query
    that reads another."""
    if not fields:
        return df
    classes = [
        sorted({_value_class(vals[c]) for vals in values_by_file.values() if vals.get(c) is not None})
        for c, _t in fields
    ]
    schema = [T.StructField("__cdf_file", T.StringType())]
    for i, cls in enumerate(classes):
        schema.append(T.StructField(f"__cdf_has{i}", T.BooleanType()))
        schema += [T.StructField(f"__cdf_v{i}_{k}", _VALUE_CLASSES[k][1]) for k in cls]
    rows = []
    for path, vals in values_by_file.items():
        row = [file_key(path)]
        for (c, _t), cls in zip(fields, classes):
            v = vals.get(c)
            row.append(c in vals)
            row += [v if v is not None and _value_class(v) == k else None for k in cls]
        rows.append(tuple(row))
    mapping = df.sparkSession.createDataFrame(rows, T.StructType(schema))
    out = df.withColumn("__cdf_file", scan_file_key()).join(
        F.broadcast(mapping), on="__cdf_file", how="left"
    )
    for i, ((c, dtype), cls) in enumerate(zip(fields, classes)):
        has = F.col(f"__cdf_has{i}")
        value = F.coalesce(
            *[_convert(F.col(f"__cdf_v{i}_{k}"), k, dtype, c) for k in cls],
            F.lit(None).cast(dtype),
        )
        miss = F.raise_error(
            F.concat(
                F.lit(f"file values for {c!r}: scan file "),
                F.col("__cdf_file"),
                F.lit(" is not in the mapping"),
            )
        )
        own = F.col(c) if c in df.columns else F.lit(None)
        out = out.withColumn(
            c, F.when(has.isNull(), miss).when(has, value).otherwise(own).cast(dtype)
        )
    return out.drop(*[f.name for f in schema])


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables. With matching bucket specs Spark
    plans a SortMergeJoin with ZERO Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


def join_exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges in the executed plan (test hook)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange hashpartitioning" in line)


def salted_groupby_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation under key skew.

    Phase 1 groups by (keys, salt-bucket) — the hot key spreads over
    `salt` reducers; phase 2 merges the partials by keys alone. Only
    decomposable aggregates are admitted (sum/count/min/max): avg must
    be expressed as sum+count by the caller.

    aggs: output_name -> "fn(col)" with fn in sum|count|min|max.
    """
    import re

    phase1_aggs = []
    phase2_aggs = []
    for out, spec in aggs.items():
        m = re.fullmatch(r"(sum|count|min|max)\((\w+|\*)\)", spec.strip())
        if not m:
            raise ValueError(f"aggregate {spec!r} not decomposable (use sum/count/min/max)")
        fn, col = m.groups()
        partial = f"_p_{out}"
        if fn == "count":
            phase1_aggs.append(F.count(F.lit(1) if col == "*" else F.col(col)).alias(partial))
            phase2_aggs.append(F.sum(partial).alias(out))
        elif fn == "sum":
            phase1_aggs.append(F.sum(col).alias(partial))
            phase2_aggs.append(F.sum(partial).alias(out))
        elif fn == "min":
            phase1_aggs.append(F.min(col).alias(partial))
            phase2_aggs.append(F.min(partial).alias(out))
        else:
            phase1_aggs.append(F.max(col).alias(partial))
            phase2_aggs.append(F.max(partial).alias(out))

    salted = df.withColumn("_salt", F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.spark_partition_id()), F.lit(salt)))
    partials = salted.groupBy(*keys, "_salt").agg(*phase1_aggs)
    return partials.groupBy(*keys).agg(*phase2_aggs)


def broadcast_threshold_hint(df: DataFrame, small: bool) -> DataFrame:
    """Explicit join-side hint (broadcast / shuffle-merge)."""
    return F.broadcast(df) if small else df.hint("merge")


def zorder_value(df: DataFrame, by: list[str], bits: int = 16) -> Column:
    """Bit-interleaved z-value over up to 4 numeric columns: each is
    min-max scaled (one tiny agg over `df`) to a `bits`-wide rank,
    then interleaved into one long. Sorting/range-partitioning on the
    result gives every cluster column selective per-file bounds — the
    multi-dimensional data-skipping layout (Delta OPTIMIZE ZORDER BY /
    Iceberg zorder sort order). Shared by both formats' rewrites."""
    if not 1 <= len(by) <= 4:
        raise ValueError("zorder supports 1-4 cluster columns")
    missing = [c for c in by if c not in df.columns]
    if missing:
        raise ValueError(f"zorder columns not in DataFrame: {missing}")
    stats = df.agg(
        *[f(c).alias(f"{n}_{c}") for c in by for n, f in (("min", F.min), ("max", F.max))]
    ).first()
    scaled = []
    for c in by:
        lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
        span = float(hi) - float(lo) if lo is not None and hi is not None else 0.0
        if span <= 0:
            scaled.append(F.lit(0).cast("long"))
        else:
            frac = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span)
            scaled.append(
                F.least(
                    F.floor(frac * ((1 << bits) - 1)).cast("long"),
                    F.lit((1 << bits) - 1).cast("long"),
                )
            )
    ncols = len(by)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1).cast("long"))
            # PySpark's shiftleft() wrapper only takes a Python-int
            # shift; the SQL function accepts a column
            z = z.bitwiseOR(
                F.call_function("shiftleft", bit, F.lit(i * ncols + j).cast("int"))
            )
    return z
