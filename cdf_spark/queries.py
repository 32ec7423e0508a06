"""The engine's query inventory: every SURVEY §2 operator as a named
query with a DuckDB oracle.

Each entry pairs a Spark implementation (through the engine's public
surface — FileResource scans, contract evaluation, operators, or the
plain DataFrame API that constitutes our relational surface) with an
ANSI-SQL oracle string executed by DuckDB over the same parquet tables
(pre-registered views: region nation customer supplier part orders
lineitem events documents embeddings).

Determinism rules (so value hashes match bit-for-bit):
- Aggregates over doubles go through DECIMAL(38,6): per-row double
  expressions are IEEE-identical across engines; the decimal cast
  makes the *sum* order-independent and exact; the final cast back to
  double is deterministic. `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS
  DOUBLE)` on both sides.
- Ratios divide the two exact aggregates as doubles.
- Hashes use the md5->bigint construction (exact parity, see
  operators/text.hash64).
- Every computed column is aliased identically on both sides; the
  driver sorts columns by name and hashes values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .contracts import Contract, DomainRule, NullabilityRule, RangeRule, RegexRule, evaluate_contract
from .expressions.ast import Col
from .operators.asof import asof_join
from .operators.dedup import dedup_keyed
from .operators.dedup_approx import (
    exact_dedup,
    fingerprint_containment_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_fast,
    simhash_pairs,
)
from .operators.effects import apply_effects_to_target, reduce_keyed_effects
from .operators.late_data import classify_late_data
from .operators.similarity import (
    cosine_topk,
    cosine_topk_fast,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_fast,
    ivf_ann_topk,
    ivf_ann_topk_fast,
    rhp_lsh_topk,
    rhp_lsh_topk_fast,
    semantic_dedup,
)
from .operators.text import analyze_documents, hash64
from .plans.layout import scan_file_key
from .plans.scan import ScanRequest
from .sources.base import ResourceDescriptor
from .sources.files import FileResource

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def wrap(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return wrap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet and normalize `ts` to TimestampType (UTC session
    tz), whatever physical shape the fixture carries. Fixtures have shipped
    as TIMESTAMP(NANOS) (Spark's vectorized reader rejects it — read nanos
    as long) and as TIMESTAMP_NTZ(us) (cannot cast to numeric types). Both
    are normalized here so downstream epoch math (`cast("long")` etc.) is
    legal and matches DuckDB's naive-timestamp epoch semantics."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer division: `/` is double division and doubles cannot
        # hold 1.7e18 nanos exactly (observed off-by-1us truncation)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # session tz is pinned UTC (__spark_entry__), so this cast is a
        # lossless re-tag: wall-clock == UTC instant, same as DuckDB
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _dec(c):
    return c.cast("decimal(38,6)")


def _dsum(c):
    return F.sum(_dec(c)).cast("double")


# ---------------------------------------------------------------------------
# Relational surface (beyond-reference: joins/aggs/windows/set-ops)
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        _dsum(disc).alias("sum_disc_price"),
        _dsum(charge).alias("sum_charge"),
        (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
        (_dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
        (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf: str) -> DataFrame:
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@_register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def q5(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@_register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_register(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS running_spend
    FROM orders WHERE o_custkey < 100
    """,
)
def window_running_total(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double").alias("running_spend"),
    )


@_register(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@_register(
    "agg_rollup",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), _dsum(F.col("o_totalprice")).alias("total")
    )


@_register(
    "set_ops_except",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def set_ops_except(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o)  # EXCEPT (distinct) semantics, matches SQL EXCEPT


@_register(
    "distinct_agg",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def distinct_agg(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_register(
    "sessionization",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM marked GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(prev.isNull() | ((F.col("ts").cast("double") - prev.cast("double")) > 1800), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


@_register(
    "tumbling_window_agg",
    """
    SELECT (epoch_ms(ts) // 1000 // 300) * 300 AS bucket_s, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    bucket = (F.col("ts").cast("long") / 300).cast("long") * 300
    return (
        e.groupBy(bucket.alias("bucket_s"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value")).alias("total_value"))
    )


@_register(
    "pivot_event_types",
    """
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS n_click,
           COUNT(*) FILTER (event_type = 'view') AS n_view,
           COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (event_type = 'signup') AS n_signup,
           COUNT(*) FILTER (event_type = 'error') AS n_error
    FROM events GROUP BY user_id
    """,
)
def pivot_event_types(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return e.groupBy("user_id").agg(*aggs)


@_register(
    "json_extract_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def json_extract_props(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    return (
        e.select(F.get_json_object("props", "$.k").cast("bigint").alias("k_value"))
        .groupBy("k_value")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "asof_join_events_orders",
    """
    SELECT e.event_id, e.user_id, o.o_orderdate AS matched_orderdate
    FROM events e ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_events_orders(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf).select("event_id", "user_id", F.col("ts"))
    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ts"), F.col("o_orderdate")
    )
    joined = asof_join(e, o, on="ts", by=["user_id"], right_prefix="m_")
    return joined.select("event_id", "user_id", F.col("m_o_orderdate").alias("matched_orderdate"))


# ---------------------------------------------------------------------------
# CDF-parity operators (scan/pushdown/contract/dedup/effects/late/sample)
# ---------------------------------------------------------------------------


@_register(
    "scan_pushdown_residual",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
    """,
)
def scan_pushdown_residual(spark: SparkSession, sf: str) -> DataFrame:
    res = FileResource(ResourceDescriptor(resource_id="orders"), f"{sf}/orders.parquet")
    df, _plan = res.scan(
        spark,
        ScanRequest(
            "orders",
            projection=["o_orderkey", "o_custkey", "o_totalprice"],
            predicates=[Col("o_totalprice") > 100000.0, Col("o_orderstatus") == "O"],
        ),
    )
    return df


@_register(
    "projection_pruning",
    "SELECT o_orderkey, o_orderdate FROM orders",
)
def projection_pruning(spark: SparkSession, sf: str) -> DataFrame:
    res = FileResource(ResourceDescriptor(resource_id="orders"), f"{sf}/orders.parquet")
    df, _ = res.scan(spark, ScanRequest("orders", projection=["o_orderkey", "o_orderdate"]))
    return df


@_register(
    "contract_verdicts",
    """
    WITH v AS (
      SELECT CASE
        WHEN o_orderkey IS NULL OR o_totalprice < 0 OR o_totalprice > 450000
             OR o_totalprice IS NULL
             OR o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL
        THEN 'quarantine'
        WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') OR o_orderpriority IS NULL
        THEN 'freeze'
        ELSE 'pass' END AS verdict
      FROM orders
    )
    SELECT verdict, COUNT(*) AS n_rows FROM v GROUP BY verdict
    """,
)
def contract_verdicts(spark: SparkSession, sf: str) -> DataFrame:
    orders = _t(spark, sf, "orders")
    contract = Contract(
        rules=[
            NullabilityRule("o_orderkey"),
            RangeRule("o_totalprice", min=0.0, max=450000.0),
            DomainRule("o_orderstatus", ["O", "F", "P"]),
            RegexRule("o_orderpriority", r"^[1-5]-", on_violation="freeze"),
        ]
    )
    return evaluate_contract(orders, contract).summary().withColumnRenamed("rows", "n_rows")


@_register(
    "contract_quarantine_rows",
    """
    SELECT o_orderkey FROM orders
    WHERE o_totalprice < 1000 OR o_totalprice > 450000 OR o_totalprice IS NULL
    """,
)
def contract_quarantine_rows(spark: SparkSession, sf: str) -> DataFrame:
    orders = _t(spark, sf, "orders")
    contract = Contract(rules=[RangeRule("o_totalprice", min=1000.0, max=450000.0)])
    return evaluate_contract(orders, contract).quarantined.select("o_orderkey")


@_register(
    "contract_cross_field_check",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 50.0 * o_custkey THEN 'admitted'
                ELSE 'quarantined' END AS disposition
    FROM orders
    """,
)
def contract_cross_field_check(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS-FIELD contract rule (`contracts.ExprRule` — a typed-AST
    predicate over the whole row, the same admitted grammar the scan
    planner pushes): rows failing `o_totalprice > 50 * o_custkey`
    quarantine while clean rows admit. The contract-side twin of a
    table CHECK constraint — the constraint refuses a COMMIT
    wholesale, this disposes ROWS. Null-or-false both violate; the
    oracle recomputes the disposition relationally."""
    from .contracts import ExprRule
    from .expressions.ast import Col, Lit

    orders = _t(spark, sf, "orders")
    contract = Contract(
        rules=[
            ExprRule(
                predicate=Col("o_totalprice") > (Lit(50.0) * Col("o_custkey")),
                label="price_vs_cust",
            )
        ]
    )
    res = evaluate_contract(orders, contract)
    return res.admitted.select(
        "o_orderkey", F.lit("admitted").alias("disposition")
    ).unionByName(
        res.quarantined.select("o_orderkey", F.lit("quarantined").alias("disposition"))
    )


@_register(
    "transform_chain",
    """
    SELECT p_partkey,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 2 AS DOUBLE) AS derived_double,
           sha256(p_name) AS name_redacted
    FROM part WHERE p_size >= 10
    """,
)
def transform_chain(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part").filter(F.col("p_size") >= 10)
    return p.select(
        "p_partkey",
        F.col("p_retailprice").cast("decimal(12,2)").cast("double").alias("price"),
        (F.col("p_retailprice").cast("decimal(12,2)") * 2).cast("double").alias("derived_double"),
        F.sha2(F.col("p_name"), 256).alias("name_redacted"),
    )


@_register(
    "dedup_keep_last",
    """
    SELECT user_id, event_type, event_id, value FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keep_last(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    out = dedup_keyed(e, ["user_id", "event_type"], ["ts", "event_id"], keep="last")
    return out.select("user_id", "event_type", "event_id", "value")


@_register(
    "dedup_keep_first",
    """
    SELECT user_id, event_type, event_id FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    out = dedup_keyed(e, ["user_id", "event_type"], ["ts", "event_id"], keep="first")
    return out.select("user_id", "event_type", "event_id")


@_register(
    "keyed_effects_reduce",
    """
    SELECT user_id, event_id AS winning_event, event_type AS op, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def keyed_effects_reduce(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf).withColumnRenamed("event_type", "op")
    red = reduce_keyed_effects(e, ["user_id"], ["ts", "event_id"], op_col="op", winner="last")
    return red.select(
        "user_id", F.col("event_id").alias("winning_event"), F.col("op"), "value"
    )


@_register(
    "effects_apply_merge",
    """
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 != 0
    ),
    effects AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
             CASE WHEN o_orderkey % 5 = 0 THEN 'delete' ELSE 'update' END AS op
      FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderkey, o_custkey, o_totalprice FROM target
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM effects)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM effects WHERE op != 'delete'
    """,
)
def effects_apply_merge(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    target = o.filter(F.col("o_orderkey") % 3 != 0)
    effects = (
        o.filter(F.col("o_orderkey") % 3 == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn(
            "op", F.when(F.col("o_orderkey") % 5 == 0, F.lit("delete")).otherwise(F.lit("update"))
        )
    )
    return apply_effects_to_target(target, effects, ["o_orderkey"], op_col="op")


@_register(
    "late_data_classify",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 24 HOUR AS w FROM events)
    SELECT event_id, user_id, (ts <= (SELECT w FROM wm)) AS is_late
    FROM events
    """,
)
def late_data_classify(spark: SparkSession, sf: str) -> DataFrame:
    """Derived watermark stays in-plan: the 1-row max(ts) aggregate is
    broadcast-crossJoined (no driver collect, one lazy plan)."""
    e = _events(spark, sf)
    wm = e.agg((F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("_cdf_wm"))
    split = classify_late_data(e.crossJoin(F.broadcast(wm)), "ts", F.col("_cdf_wm"), action="annotate")
    return split.admitted_annotated.select(
        "event_id", "user_id", F.col("_cdf_late").alias("is_late")
    )


@_register(
    "stratified_sample",
    """
    SELECT event_id, user_id FROM events
    WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),1,15)) AS BIGINT) % 100 < 10
    """,
)
def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    bucket = hash64(F.col("event_id").cast("string")) % 100
    return e.filter(bucket < 10).select("event_id", "user_id")


@_register(
    "incremental_cursor_scan",
    "SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey > 1000",
)
def incremental_cursor_scan(spark: SparkSession, sf: str) -> DataFrame:
    # cursor 1000 keeps the result NON-EMPTY at every test sf (orders
    # keys start at 0: sf0.001 tops out at 1499, so the old 10000
    # cursor made this a vacuous 0-row green at small sf)
    res = FileResource(ResourceDescriptor(resource_id="orders"), f"{sf}/orders.parquet")
    df, _ = res.scan(
        spark,
        ScanRequest(
            "orders",
            projection=["o_orderkey", "o_orderdate"],
            predicates=[Col("o_orderkey") > 1000],
            cursor_field="o_orderkey",
            cursor_resume_value=1000,
        ),
    )
    return df


# ---------------------------------------------------------------------------
# Training-data operators
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH f AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
         CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop
  FROM documents
)
SELECT doc_id, n_tokens,
       round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS avg_token_len,
       round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
       md5(text) AS fingerprint
FROM f
"""


@_register("docs_profile", _PROFILE_ORACLE)
def docs_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    out = analyze_documents(docs)
    return out.select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "fingerprint")


def _word_count_sql(word: str) -> str:
    """SQL for whole-word occurrence counting, identical to
    operators.text.word_occurrences (padded replace arithmetic)."""
    needle = f" {word} "
    return (
        f"CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' {word} ', '')) AS BIGINT)"
        f"/{len(needle)}"
    )


def _lang_quality_oracle() -> str:
    from .operators.text import LANG_MARKERS

    score_cols = ",\n         ".join(
        f"CAST({' + '.join(_word_count_sql(w) for w in words)} AS BIGINT) AS s_{lang}"
        for lang, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    # tie precedence = LANG_MARKERS order (matches lang_id's WHEN chain)
    case = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
         CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
         {score_cols}
  FROM documents
),
feats AS (
  SELECT doc_id,
         round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS avg_token_len,
         round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
         n_chars, {', '.join('s_' + lang for lang in langs)},
         {best} AS best
  FROM base
)
SELECT doc_id,
       round(
         (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)
       + (CASE WHEN stopword_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
       + (CASE WHEN avg_token_len BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END), 2) AS quality,
       CASE WHEN best = 0 THEN 'und' {case} ELSE 'und' END AS lang_pred
FROM feats
"""


@_register("docs_quality_lang", _lang_quality_oracle())
def docs_quality_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    out = analyze_documents(docs)
    return out.select("doc_id", "quality", "lang_pred")


@_register(
    "exact_dedup_docs",
    """
    SELECT d.doc_id, d.n_chars FROM documents d
    JOIN (SELECT min(doc_id) AS keep FROM documents GROUP BY md5(text)) k
      ON d.doc_id = k.keep
    """,
)
def exact_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    return exact_dedup(docs).select("doc_id", "n_chars")


_JACCARD_ORACLE = """
WITH sh AS (
  SELECT doc_id, list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)]) AS s
  FROM documents
),
ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, b.sz sb, count(*) inter
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1,2,3,4
)
SELECT id_a, id_b, round(inter::DOUBLE / (sa + sb - inter), 6) AS jaccard
FROM pairs WHERE round(inter::DOUBLE / (sa + sb - inter), 6) >= 0.8
"""


_FP_CONTAIN_ORACLE = """
WITH fp AS (
  SELECT doc_id, list_distinct(list_filter(
    [CAST(('0x'||substr(md5(substr(text, i, 8)),1,15)) AS BIGINT)
     for i in range(1, greatest(length(text) - 7, 0) + 1)],
    h -> h % 16 = 0)) AS f
  FROM documents
),
ex AS (SELECT doc_id, len(f) AS sz, unnest(f) AS h FROM fp),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, count(*) inter
  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id != b.doc_id
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, round(inter::DOUBLE / sa, 6) AS containment
FROM pairs WHERE sa > 0 AND round(inter::DOUBLE / sa, 6) >= 0.6
"""


@_register("fingerprint_containment", _FP_CONTAIN_ORACLE)
def fingerprint_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Directed winnowing-fingerprint containment pairs (excerpts /
    supersets): md5-derived sampled fingerprints, exact SQL parity."""
    return fingerprint_containment_pairs(_t(spark, sf, "documents"), threshold=0.6)


@_register("ngram_jaccard_dups", _JACCARD_ORACLE)
def ngram_jaccard_dups(spark: SparkSession, sf: str) -> DataFrame:
    return ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.8)


_CHUNK_ORACLE = r"""
WITH t AS (SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 24)) AS st FROM t)
SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx,
       array_to_string(toks[st + 1 : st + 32], ' ') AS chunk_text,
       CAST(len(toks[st + 1 : st + 32]) AS BIGINT) AS chunk_len
FROM s
"""


@_register("doc_chunking_rag", _CHUNK_ORACLE)
def doc_chunking_rag(spark: SparkSession, sf: str) -> DataFrame:
    """RAG chunking (`operators/chunking.py`): 32-token chunks with
    8-token overlap, stable (doc_id, chunk_idx) identity. Pure
    sequence->slice->join expressions — zero shuffle, zero UDF; the
    oracle reproduces the exact slices with DuckDB list arithmetic."""
    from .operators.chunking import chunk_by_tokens

    out = chunk_by_tokens(_t(spark, sf, "documents"), chunk_tokens=32, overlap_tokens=8)
    return out.select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "chunk_text",
        F.col("chunk_len").cast("long").alias("chunk_len"),
    )


@_register("ngram_jaccard_dups_fast", _JACCARD_ORACLE)
def ngram_jaccard_dups_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix-filtered (AllPairs/PPJoin) EXACT Jaccard join — the
    deploy twin of the ngram_jaccard_dups parity verifier. Same oracle
    because prefix filtering is lossless: the candidate set is a
    superset of all true pairs, then verified exactly."""
    return ngram_jaccard_pairs_fast(_t(spark, sf, "documents"), threshold=0.8)


# Bench-only fast variants (xxhash64 signatures): same algorithm as the
# oracled md5-parity queries below, but with the cheaper JVM hash whose
# exact values cannot be reproduced in DuckDB SQL.  They are registered
# in BENCH_ONLY (populated at the end of this module), NOT in QUERIES,
# so that every queries() entry carries an exact oracle.
def minhash_lsh_dups_fast(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_lsh_pairs(_t(spark, sf, "documents"), threshold=0.8)


def simhash_dups_fast(spark: SparkSession, sf: str) -> DataFrame:
    return simhash_pairs(_t(spark, sf, "documents"), max_hamming=3)


_COSINE_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
scored AS (
  SELECT qid, c.vec_id AS nid, round(list_cosine_similarity(qe, e), 4) AS sim
  FROM c CROSS JOIN q WHERE c.vec_id != qid
),
ranked AS (
  SELECT qid AS query_id, nid AS neighbor_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


@_register("cosine_topk", _COSINE_ORACLE)
def cosine_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    return cosine_topk(emb, emb.filter("vec_id < 20"), k=10)


@_register("ann_lsh_topk", None)  # approximate by design; recall tested vs exact
def ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    return rhp_lsh_topk(emb, emb.filter("vec_id < 20"), k=10, bits=32, band_bits=2)


_IVF_PQ_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
assigned AS (
  SELECT id, cluster FROM (
    SELECT c.vec_id AS id, cents.cid AS cluster,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
    FROM c CROSS JOIN cents) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
probes AS (
  SELECT qid, cluster FROM (
    SELECT q.qid, cents.cid AS cluster,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
    FROM q CROSS JOIN cents) WHERE rn <= 8
),
cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cidx, e AS ce
  FROM c WHERE vec_id % 25 = 0
),
dists AS (
  SELECT c.vec_id AS id, s.sub, cb.cidx,
         round(list_sum(list_transform(range(1, 9),
            i -> (c.e[s.sub*8 + i] - cb.ce[s.sub*8 + i])^2)), 6) AS dist
  FROM c CROSS JOIN cb CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s
),
codes AS (
  SELECT id, sub, cidx FROM (
    SELECT id, sub, cidx,
           row_number() OVER (PARTITION BY id, sub ORDER BY dist ASC, cidx ASC) AS rn
    FROM dists) WHERE rn = 1
),
recon AS (
  SELECT codes.id,
         flatten(list(cb.ce[codes.sub*8 + 1 : codes.sub*8 + 8] ORDER BY codes.sub)) AS r
  FROM codes JOIN cb ON cb.cidx = codes.cidx GROUP BY codes.id
),
cand AS (
  SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
  WHERE a.id != p.qid
),
adc AS (
  SELECT cand.qid, cand.id,
         round(list_cosine_similarity(qc.qe, recon.r), 4) AS asim
  FROM cand JOIN q qc ON qc.qid = cand.qid JOIN recon ON recon.id = cand.id
),
short AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY asim DESC, id ASC) AS ar
    FROM adc) WHERE ar <= 200
),
scored AS (
  SELECT s.qid AS query_id, s.id AS neighbor_id,
         round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
  FROM short s JOIN c qc ON qc.vec_id = s.qid JOIN c cc ON cc.vec_id = s.id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= 10
"""


@_register("ivf_pq_ann_topk", _IVF_PQ_ORACLE)
def ivf_pq_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ COMPOSITE (`similarity.ivf_pq_ann_topk_fast`) — the
    standard deploy ANN architecture: coarse IVF routing confines
    scoring to nprobe clusters per query, PQ asymmetric-distance
    scores within them (m uint8 lookups per vector instead of d
    multiplies), exact rescore of the ADC shortlist. Since r11 the
    fast path's shortlist is DISTRIBUTIVE (per-batch local ADC
    top-nshort, global window cut under the total order
    (asim DESC, id ASC)), making the deploy path partition-
    independent and exactly SQL-reproducible: the oracle replays
    centroids → routing → probes → PQ codes → ADC (cosine against
    the reconstruction — identical to the table-lookup form since
    sum_m q_m.cw_m = q.recon and sqrt(sum_m |cw_m|^2) = |recon|) →
    global shortlist → exact rescore. ADC = round-4 cosine, PQ code
    argmin at round-6 squared L2 — the same rounding discipline every
    oracled ANN entry uses. Recall floor additionally pinned in
    test_lsh_recall."""
    from .operators.similarity import ivf_pq_ann_topk_fast

    emb = _t(spark, sf, "embeddings")
    return ivf_pq_ann_topk_fast(
        emb, emb.filter("vec_id < 20"), k=10, nprobe=8, centroid_modulus=50, m=8,
        shortlist=20,
    )


def embedding_near_dups_raw(spark: SparkSession, sf: str) -> DataFrame:
    """Exact near-dup pairs over the RAW embeddings table. Unregistered:
    random unit vectors never reach cos >= 0.95, so as a gate entry
    this was a vacuous 0-vs-0 green. The registered `embedding_near_dups`
    runs the same operator over a corpus with planted twins (~100 true
    pairs at every sf)."""
    return embedding_near_dup_pairs(_t(spark, sf, "embeddings"), threshold=0.95)


@_register(
    "token_stats_by_lang",
    """
    SELECT lang,
           CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END) AS BIGINT) AS total_tokens,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def token_stats_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import token_count

    docs = _t(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@_register(
    "bpe_token_stats",
    """
    WITH toks AS (
      SELECT lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS ws_tokens,
             CAST(list_sum([(length(w) + 3) // 4 for w in list_filter(str_split(trim(text), ' '), w -> length(w) > 0)]) AS BIGINT) AS bpe_tokens
      FROM documents
    )
    SELECT lang,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           round(CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens), 6) AS pieces_per_word
    FROM toks GROUP BY lang
    """,
)
def bpe_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Subword token accounting per language: whitespace tokens vs the
    BPE-ish ceil(len/4) piece estimate — the unit a training-data
    budget is written in."""
    from .operators.text import bpe_token_count, token_count

    docs = _t(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_ws_tokens"),
        F.sum(bpe_token_count(F.col("text"))).cast("bigint").alias("total_bpe_tokens"),
        F.round(
            F.sum(bpe_token_count(F.col("text"))).cast("double")
            / F.sum(token_count(F.col("text"))),
            6,
        ).alias("pieces_per_word"),
    )


@_register(
    "hashed_features_profile",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(str_split(trim(text), ' '), t -> length(t) > 0) AS ts
      FROM documents
    ),
    vec AS (
      SELECT doc_id,
             [len(list_filter(ts, t -> CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 64 = i))
              for i in range(0, 64)] AS v
      FROM toks
    )
    SELECT doc_id,
           CAST(list_sum([x*x for x in v]) AS BIGINT) AS sq_norm,
           CAST(list_sum([CASE WHEN x > 0 THEN 1 ELSE 0 END for x in v]) AS BIGINT) AS nonzero,
           CAST(list_max(v) AS BIGINT) AS max_count
    FROM vec
    """,
)
def hashed_features_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashed term-frequency vectors (the vocabulary-free
    text->vector bridge), profiled per doc so the 64-dim construction
    is value-verified end to end."""
    from .operators.text import hashed_features

    docs = _t(spark, sf, "documents")
    v = F.col("_v")
    return (
        docs.select("doc_id", hashed_features(F.col("text"), 64).alias("_v"))
        .select(
            "doc_id",
            F.aggregate(v, F.lit(0).cast("long"), lambda a, x: a + (x * x).cast("long")).alias("sq_norm"),
            F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("nonzero"),
            F.array_max(v).cast("long").alias("max_count"),
        )
    )


@_register(
    "decontamination_check",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(str_split(trim(text), ' '), t -> length(t) > 0) AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct([CAST(('0x'||substr(md5(array_to_string(ts[i:i+4], ' ')),1,15)) AS BIGINT)
                            for i in range(1, len(ts)-3)]) AS gs
      FROM toks
    ),
    eval_g AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0),
    cand AS (
      SELECT doc_id, gs, len(gs) AS n_grams FROM grams
      WHERE doc_id % 97 <> 0 AND len(gs) > 0
    ),
    ex AS (SELECT doc_id, n_grams, unnest(gs) AS g FROM cand),
    hits AS (
      SELECT ex.doc_id, ex.n_grams, count(e.g) AS hits
      FROM ex LEFT JOIN eval_g e ON ex.g = e.g
      GROUP BY 1, 2
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(hits AS BIGINT) AS hits,
           round(CAST(hits AS DOUBLE)/n_grams, 6) AS overlap_frac,
           (CAST(hits AS DOUBLE)/n_grams >= 0.05) AS contaminated
    FROM hits
    """,
)
def decontamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 == 0 stand in
    for the held-out eval suite; every other doc is profiled for word
    5-gram overlap against it. Eval gram set is broadcast — the corpus
    side scans once (the posture that holds at 100 TB)."""
    from .operators.curation import decontamination_overlap

    docs = _t(spark, sf, "documents")
    out = decontamination_overlap(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=5,
        threshold=0.05,
    )
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("hits").cast("long").alias("hits"),
        "overlap_frac",
        "contaminated",
    )


def decontamination_check_fast(spark: SparkSession, sf: str) -> DataFrame:
    """decontamination_check on the xxhash64 gram-hash fast path (the
    deploy configuration; identical output barring hash collisions —
    parity-tested in test_llm_ops)."""
    from .operators.curation import decontamination_overlap

    docs = _t(spark, sf, "documents")
    return decontamination_overlap(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=5,
        threshold=0.05,
        hash_fn="xxhash64",
    )


@_register(
    "repetition_quality",
    """
    WITH t AS (
      SELECT doc_id, list_filter(str_split(trim(text), ' '), t -> length(t) > 0) AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id, ts,
             [array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))] AS gs
      FROM t
    ),
    wc AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(ts) AS w FROM g) GROUP BY 1, 2
    ),
    ws AS (SELECT doc_id, sum(c) AS nt, count(*) AS dw, max(c) AS topw FROM wc GROUP BY 1),
    gc AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(gs) AS w FROM g) GROUP BY 1, 2
    ),
    gg AS (SELECT doc_id, sum(c) AS ng, count(*) AS dg, max(c) AS topg FROM gc GROUP BY 1),
    m AS (
      SELECT t.doc_id,
             CAST(coalesce(ws.nt, 0) AS BIGINT) AS n_tokens,
             round(CASE WHEN coalesce(ws.nt,0) > 0 THEN CAST(ws.dw AS DOUBLE)/ws.nt ELSE 0.0 END, 6) AS distinct_word_ratio,
             round(CASE WHEN coalesce(ws.nt,0) > 0 THEN CAST(ws.topw AS DOUBLE)/ws.nt ELSE 0.0 END, 6) AS top_word_frac,
             round(CASE WHEN coalesce(gg.ng,0) > 0 THEN 1.0 - CAST(gg.dg AS DOUBLE)/gg.ng ELSE 0.0 END, 6) AS dup_2gram_frac,
             round(CASE WHEN coalesce(gg.ng,0) > 0 THEN CAST(gg.topg AS DOUBLE)/gg.ng ELSE 0.0 END, 6) AS top_2gram_frac
      FROM t LEFT JOIN ws ON t.doc_id = ws.doc_id LEFT JOIN gg ON t.doc_id = gg.doc_id
    )
    SELECT *,
           NOT (distinct_word_ratio < 0.2 OR top_word_frac > 0.3 OR top_2gram_frac > 0.18) AS keep
    FROM m
    """,
)
def repetition_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition/diversity signals + keep verdict per
    document — explode→groupBy frequency profile (the shape that
    stays O(tokens) on long documents)."""
    from .operators.curation import repetition_profile

    return repetition_profile(_t(spark, sf, "documents"))


def _hll_oracle_one(table: str, col: str) -> str:
    # alpha*m^2*2^rmax: multiplications by powers of two are exact in
    # IEEE doubles, so the grouping difference vs the Spark literal
    # ((a*m)*m)*2^53 cannot round differently
    return f"""
  SELECT '{col}' AS col_name, round(
    CASE WHEN raw <= 640.0 AND v > 0 THEN 256.0 * ln(256.0 / v) ELSE raw END,
    4) AS hll_estimate
  FROM (
    SELECT ((0.7213/(1+1.079/256))*65536*9007199254740992)
             / CAST(sp + (256-present)*9007199254740992 AS DOUBLE) AS raw,
           (256 - present) AS v
    FROM (
    SELECT count(*) AS present, SUM(CAST(pow(2, 53 - M) AS BIGINT)) AS sp FROM (
      SELECT bucket, max(rho) AS M FROM (
        SELECT h % 256 AS bucket,
               CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8)) ELSE 53 END AS rho
        FROM (
          SELECT CAST(('0x'||substr(md5(CAST({col} AS VARCHAR)),1,15)) AS BIGINT) AS h
          FROM {table} WHERE {col} IS NOT NULL
        )
      ) GROUP BY 1
    )
  ))"""


_HLL_ORACLE = (
    _hll_oracle_one("lineitem", "l_orderkey")
    + "\nUNION ALL\n"
    + _hll_oracle_one("orders", "o_custkey")
    + "\nUNION ALL\n"
    + _hll_oracle_one("events", "user_id")
)


@_register("hll_cardinality", _HLL_ORACLE)
def hll_cardinality_q(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (p=8), value-verified in SQL —
    possible because hashing and register arithmetic are exact-parity
    constructions. Mergeability (the 100 TB property) is asserted in
    tests/test_sketches.py."""
    from .operators.sketches import hll_cardinality

    parts = [
        hll_cardinality(_t(spark, sf, "lineitem"), "l_orderkey"),
        hll_cardinality(_t(spark, sf, "orders"), "o_custkey"),
        hll_cardinality(_events(spark, sf), "user_id"),
    ]
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out


_PII_ORACLE = r"""
WITH b AS (
  SELECT c_custkey,
         c_name || ' segment ' || c_mktsegment
           || ' ph ' || (c_custkey % 90 + 10) || '-' || (c_custkey % 900 + 100)
           || '-' || (c_custkey * 7 % 900 + 100) || '-' || (c_custkey * 31 % 9000 + 1000)
           || ' mail ' || lower(replace(c_name, '#', '.')) || '@example.com' AS blob
  FROM customer
)
SELECT c_custkey,
       CAST(len(regexp_extract_all(blob, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS emails,
       CAST(len(regexp_extract_all(blob, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS phones,
       (len(regexp_extract_all(blob, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(blob, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) > 0) AS has_pii,
       regexp_replace(
         regexp_replace(blob, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
FROM b
"""


@_register("pii_scan_customers", _PII_ORACLE)
def pii_scan_customers(spark: SparkSession, sf: str) -> DataFrame:
    """PII detect + redact over a contact blob built deterministically
    from customer columns (synthetic phone from custkey arithmetic,
    synthetic email from the name) so the regex layer is exercised
    non-vacuously. Narrow projection, no shuffle."""
    from .operators.curation import scan_pii

    cust = _t(spark, sf, "customer")
    key = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        (key % 90 + 10).cast("string"),
        (key % 900 + 100).cast("string"),
        (key * 7 % 900 + 100).cast("string"),
        (key * 31 % 9000 + 1000).cast("string"),
    )
    blob = F.concat_ws(
        " ",
        F.col("c_name"),
        F.lit("segment"),
        F.col("c_mktsegment"),
        F.lit("ph"),
        phone,
        F.lit("mail"),
        F.concat(F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))), F.lit("@example.com")),
    )
    return scan_pii(cust.select("c_custkey", blob.alias("blob")), "blob", "c_custkey")


@_register(
    "multimodal_features",
    """
    SELECT doc_id AS asset_id,
           64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 192 AS width,
           64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 192 AS height,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.multimodal import extract_image_features, to_media_table

    docs = _t(spark, sf, "documents")
    media = to_media_table(
        docs.select("doc_id", F.encode("text", "utf-8").alias("blob")), "doc_id", "blob", "image"
    )
    feats = extract_image_features(media)
    return feats.select("asset_id", "width", "height", "n_bytes")


@_register(
    "image_pixel_stats",
    """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 23 AS w, 8 + doc_id % 17 AS h
      FROM documents WHERE doc_id < 200
    ),
    px AS (
      SELECT d.doc_id, d.w, d.h, x.range AS x, y.range AS y
      FROM d
      JOIN range(0, 31) x ON x.range < d.w
      JOIN range(0, 25) y ON y.range < d.h
    )
    SELECT doc_id AS asset_id, w AS width, h AS height,
           avg((3*x + 5*y + doc_id) % 256) AS mean_r,
           avg((7*x + 2*y + 2*doc_id) % 256) AS mean_g,
           avg((x + 11*y + 3*doc_id) % 256) AS mean_b,
           CAST(max(CASE WHEN x = w - 1 AND y = h - 1
                         THEN (3*x + 5*y + doc_id) % 256 END) AS INT) AS corner_r
    FROM px GROUP BY 1, 2, 3
    """,
)
def image_pixel_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode end-to-end: closed-form BMPs are encoded
    executor-side (`synthetic_bmp_table` — genuine 24-bit BMP bytes:
    bottom-up rows, BGR, 4-byte padding), decoded back by the pure-
    numpy codec, and per-channel pixel statistics computed from the
    decoded arrays (`operators/multimodal.py`). The oracle recomputes
    the same statistics from the pixel formula directly — any decoder
    bug (row flip, channel order, stride padding) shifts mean/corner
    values and breaks the match. Replaces the hash-derived fake as the
    image path's primary evidence (the fake remains a plumbing
    fixture)."""
    from .operators.multimodal import image_pixel_stats, synthetic_bmp_table

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return image_pixel_stats(synthetic_bmp_table(docs, "doc_id"))


@_register(
    "video_frame_sample_stats",
    """
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 5 AS nt,
             8 + 2*(doc_id % 5) AS w, 8 + 2*(doc_id % 4) AS h
      FROM documents WHERE doc_id < 150
    ),
    fr AS (
      SELECT doc_id, nt, w, h, t.range AS t
      FROM d JOIN range(0, 9) t ON t.range < nt AND t.range % 2 = 0
    ),
    px AS (
      SELECT doc_id, nt, t, x.range AS x, y.range AS y
      FROM fr
      JOIN range(0, 17) x ON x.range < w
      JOIN range(0, 15) y ON y.range < h
    )
    SELECT doc_id AS asset_id, CAST(t AS INT) AS frame_idx,
           CAST(nt AS INT) AS n_frames,
           round(avg((5*x + 7*y + 11*t + doc_id) % 256), 4) AS mean_y
    FROM px GROUP BY 1, 2, 3
    """,
)
def video_frame_sample_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video decode + FRAME SAMPLING (`multimodal.decode_y4m` —
    YUV4MPEG2, the raw container ffmpeg speaks; compressed codecs stay
    the honest library plug-in point): closed-form clips are encoded
    executor-side as genuine y4m bytes, decoded back by the pure-numpy
    codec, every 2nd frame sampled, and per-sampled-frame luma means
    compare against a SQL oracle recomputing the pixel formula —
    a frame-offset bug (FRAME-marker mis-parse, chroma-plane stride)
    shifts the means and breaks the match. Upgrades the video path
    from stub to real for one honest format."""
    from .operators.multimodal import synthetic_y4m_table, video_frame_sample_stats

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    return video_frame_sample_stats(synthetic_y4m_table(docs, "doc_id"), every_n=2)


@_register(
    "image_resize_stats",
    """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 23 AS w, 8 + doc_id % 17 AS h
      FROM documents WHERE doc_id < 150
    ),
    px AS (
      SELECT d.doc_id, d.w, d.h, oi.range AS oi, oj.range AS oj,
             CAST(floor((oi.range + 0.5) * d.h / 12.0) AS BIGINT) AS sy,
             CAST(floor((oj.range + 0.5) * d.w / 10.0) AS BIGINT) AS sx
      FROM d JOIN range(0, 12) oi ON true JOIN range(0, 10) oj ON true
    )
    SELECT doc_id AS asset_id, CAST(12 AS INT) AS h, CAST(10 AS INT) AS w,
           round(avg((3*sx + 5*sy + doc_id) % 256), 4) AS mean_r,
           round(avg((7*sx + 2*sy + 2*doc_id) % 256), 4) AS mean_g,
           round(avg((sx + 11*sy + 3*doc_id) % 256), 4) AS mean_b
    FROM px GROUP BY 1
    """,
)
def image_resize_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """IMAGE RESIZE end-to-end (`multimodal.resize_image` — the media
    transform stage of a multimodal pipeline): closed-form BMPs decode,
    resize to 12x10 with nearest-neighbor pixel-center mapping, and
    per-channel means of the RESIZED pixels compare against a SQL
    oracle that recomputes the same source lookups from the pixel
    formula — a wrong coordinate mapping (off-by-half, axis swap,
    truncation-vs-floor) shifts the means and breaks the match.
    Bilinear (the quality mode, same half-pixel convention as
    OpenCV/PIL) is pinned by unit tests instead — its interpolation
    weights are not practical to reproduce in SQL."""
    from .operators.multimodal import image_resize_stats, synthetic_bmp_table

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    return image_resize_stats(
        synthetic_bmp_table(docs, "doc_id"), out_h=12, out_w=10, method="nearest"
    )


@_register(
    "audio_resample_stats",
    """
    WITH d AS (
      SELECT doc_id, 400 + doc_id % 700 AS n, 13 + doc_id % 7 AS k
      FROM documents WHERE doc_id < 150
    ),
    o AS (SELECT doc_id, n, k, (n * 8000) // 16000 AS n_out FROM d),
    px AS (
      SELECT doc_id, n, k, n_out, j.range AS j,
             CAST(floor((j.range + 0.5) * n / n_out) AS BIGINT) AS t
      FROM o JOIN range(0, 550) j ON j.range < n_out
    )
    SELECT doc_id AS asset_id, CAST(n_out AS INT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           round(avg(abs((t * k) % 2001 - 1000)), 4) AS mean_abs
    FROM px GROUP BY 1, 2
    """,
)
def audio_resample_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """AUDIO RESAMPLE end-to-end (`multimodal.resample_audio_nearest`
    — the rate-change stage of an audio pipeline): closed-form 16 kHz
    WAVs decode, nearest-resample to 8 kHz (every output sample an
    exact source lookup at floor((j+0.5)·n/n_out)), and the RESAMPLED
    signal's mean |amplitude| compares against a SQL oracle that
    recomputes the same lookups from the waveform formula — a wrong
    mapping (rate inversion, off-by-half, channel mixup) breaks it."""
    from .operators.multimodal import audio_resample_stats, synthetic_wav_table

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    return audio_resample_stats(synthetic_wav_table(docs, "doc_id"), out_rate=8000)


@_register(
    "audio_sample_stats",
    """
    WITH d AS (
      SELECT doc_id, 400 + doc_id % 700 AS n, 13 + doc_id % 7 AS k
      FROM documents WHERE doc_id < 200
    ),
    s AS (
      SELECT d.doc_id, d.n, t.range AS t,
             ((t.range * d.k) % 2001) - 1000 AS amp,
             (((t.range + 1) * d.k) % 2001) - 1000 AS amp_next
      FROM d JOIN range(0, 1100) t ON t.range < d.n
    )
    SELECT doc_id AS asset_id,
           CAST(16000 AS INT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_samples,
           CAST(sum(amp) AS BIGINT) AS sum_amp,
           CAST(sum(abs(amp)) AS BIGINT) AS sum_abs,
           CAST(sum(CASE WHEN t < n - 1 AND ((amp >= 0) != (amp_next >= 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM s GROUP BY doc_id
    """,
)
def audio_sample_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode end-to-end: closed-form 16-bit PCM WAVs are
    encoded executor-side (`synthetic_wav_table` — genuine RIFF files),
    decoded back by the chunk-walking numpy codec, and integer-exact
    waveform statistics (sum, abs-sum, zero crossings) computed from
    the decoded samples (`operators/multimodal.py`). The oracle
    recomputes the same statistics from the waveform formula directly —
    wrong endianness, chunk offsets, or sign handling all shift the
    sums and break the match."""
    from .operators.multimodal import audio_sample_stats, synthetic_wav_table

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return audio_sample_stats(synthetic_wav_table(docs, "doc_id"))


_SESSION_FIXTURES: dict[tuple[str, str], str] = {}


def _session_fixture(kind: str, sf: str, build) -> str:
    """Session-lived fixture dir for `kind` at scale `sf`, built once
    by `build(dir)`. Fixture-backed registry queries used to build into
    a per-call tmp dir and collect() rows before deleting it — which
    made the plan audit blind exactly where the table-format readers
    live (EXPLAIN showed LocalTableScan, 0 scans, no pushdown
    evidence). Building once per session and returning LIVE DataFrames
    keeps the real multi-file parquet scans in the audited plan; atexit
    removes the dirs at interpreter exit. The _BUILT marker lands only
    after a successful build, so a failed build retries instead of
    caching a half-written fixture."""
    import atexit
    import shutil
    import tempfile
    from pathlib import Path as _Path

    key = (kind, sf)
    d = _SESSION_FIXTURES.get(key)
    if d is None:
        d = tempfile.mkdtemp(prefix=f"cdf_fix_{kind}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SESSION_FIXTURES[key] = d
    marker = _Path(d) / "_BUILT"
    if not marker.exists():
        build(d)
        marker.write_text("")
    return d


@_register(
    "delta_time_travel",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900",
)
def delta_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time travel over a REAL Delta-Lake directory layout
    (`sources/delta.py`: numbered JSON-lines commits under _delta_log,
    add/remove action replay): three commits, the pin at version 1 must
    see commits 0+1 only."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t")
        w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000)
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)),
            timestamp_ms=2000,
        )
        w.append(o.filter(F.col("o_orderkey") > 900), timestamp_ms=3000)

    tmp = _session_fixture("delta_tt", sf, build)
    return DeltaTable(f"{tmp}/t").read(spark, version=1)


@_register(
    "delta_changes_since",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey > 400",
)
def delta_changes_since(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental consumption off the Delta log: checkpointed at
    version 0, the consumer receives exactly the files ADDED by
    versions 1 and 2 (append-only log — a remove action would reset to
    a full re-read, tested in test_delta)."""
    from .positions import TableSnapshotPosition
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t")
        w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000)
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)),
            timestamp_ms=2000,
        )
        w.append(o.filter(F.col("o_orderkey") > 900), timestamp_ms=3000)

    tmp = _session_fixture("delta_inc", sf, build)
    df, _pos = DeltaTable(f"{tmp}/t").changes_since(
        spark, TableSnapshotPosition(snapshot_id=0)
    )
    return df


@_register(
    "cms_heavy_hitters",
    """
    WITH v AS (
      SELECT CAST(lang AS VARCHAR) AS val FROM documents
      WHERE lang IS NOT NULL
    ),
    rows_ AS (SELECT range AS r FROM range(0, 4)),
    reg AS (
      SELECT r.r,
             CAST(('0x' || substr(md5(r.r || ':' || v.val), 1, 15)) AS BIGINT) % 256 AS bucket,
             count(*) AS c
      FROM v CROSS JOIN rows_ r GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT val FROM v),
    est AS (
      SELECT cand.val, min(reg.c) AS est
      FROM cand CROSS JOIN rows_ r
      JOIN reg ON reg.r = r.r
              AND reg.bucket = CAST(('0x' || substr(md5(r.r || ':' || cand.val), 1, 15)) AS BIGINT) % 256
      GROUP BY 1
    )
    SELECT val, est FROM est WHERE est >= 72
    """,
)
def cms_heavy_hitters_q(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch heavy hitters, value-verified like the HLL: the
    d x w counter matrix uses md5-parity hashing, so register contents,
    collisions, and min-estimates are bit-identical across engines
    (`operators/sketches.py`). Mergeable by counter sum — the one-pass
    frequency-profile shape for 100 TB columns."""
    from .operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(_t(spark, sf, "documents"), "lang", threshold=72)


@_register(
    "pack_sequences_by_lang",
    """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                  END AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def pack_sequences_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Training-sequence packing (`operators/packing.py`): documents
    concatenated-then-chunked into 2048-token packs per lang shard
    (GPT-style packing as a closed form over the running token total —
    one window per shard, O(1) per row, no global sort)."""
    from .operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf, "documents"), budget=2048, shard_col="lang"
    )


@_register(
    "domain_mix_sample",
    """
    WITH tgt AS (
      SELECT * FROM (VALUES ('en', 0.5), ('de', 0.25), ('fr', 0.25)) AS t(lang, p)
    ),
    counts AS (
      SELECT d.lang, t.p, count(*) AS n
      FROM documents d JOIN tgt t ON d.lang = t.lang GROUP BY 1, 2
    ),
    tot AS (SELECT min(n / p) AS t FROM counts),
    rates AS (
      SELECT lang, round(tot.t * p / n, 6) AS mix_rate FROM counts, tot
    )
    SELECT d.doc_id, d.lang, r.mix_rate
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
          < CAST(r.mix_rate * 1000000 AS BIGINT)
    """,
)
def domain_mix_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic domain-mixture sampling (`operators/packing.py`):
    target 50/25/25 over en/de/fr — the binding domain keeps every row,
    the rest sample down through the md5-parity hash gate, so the
    row-level keep/drop set is bit-identical across engines (auditable
    data mixing, no RNG state)."""
    from .operators.packing import domain_mix_sample

    out = domain_mix_sample(
        _t(spark, sf, "documents"),
        {"en": 0.5, "de": 0.25, "fr": 0.25},
        domain_col="lang",
    )
    return out.select("doc_id", "lang", "mix_rate")


@_register(
    "range_join_campaigns",
    """
    WITH iv AS (
      SELECT r.range AS campaign_id,
             TIMESTAMP '2024-01-01' + r.range * 2 * INTERVAL 1 DAY AS s,
             TIMESTAMP '2024-01-01' + (r.range * 2 + 5) * INTERVAL 1 DAY AS e
      FROM range(0, 10) r
    )
    SELECT e.event_id, iv.campaign_id, e.value
    FROM events e JOIN iv ON e.ts >= iv.s AND e.ts < iv.e
    """,
)
def range_join_campaigns(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval range join (`operators/temporal.py`): events
    against ten OVERLAPPING 5-day campaign windows, executed as a
    bucketed equi-join + residual (a theta-join would plan as
    BroadcastNestedLoopJoin — O(points x intervals) comparisons; the
    bucket decomposition is the standard interval-join shape at
    100 TB). Overlap means most events match 2-3 campaigns — the join
    is genuinely one-to-many, not a partition in disguise."""
    from .operators.temporal import range_join

    epoch_jan1 = 1_704_067_200  # 2024-01-01 UTC (session tz pinned UTC)
    iv = spark.range(0, 10).select(
        F.col("id").alias("campaign_id"),
        F.timestamp_seconds(F.lit(epoch_jan1) + F.col("id") * 2 * 86_400).alias("s"),
        F.timestamp_seconds(F.lit(epoch_jan1) + (F.col("id") * 2 + 5) * 86_400).alias("e"),
    )
    ev = _events(spark, sf).select("event_id", "ts", "value")
    joined = range_join(ev, iv, ts_col="ts", start_col="s", end_col="e")
    return joined.select("event_id", "campaign_id", "value")


@_register(
    "hypertable_rollup",
    """
    SELECT date_trunc('day', ts) AS bucket, event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_rows
    FROM events GROUP BY 1, 2
    """,
)
def hypertable_rollup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-aggregate law, value-verified: the DAILY rollup is
    computed FROM the hourly rollup (`operators/temporal.py` — the
    hypertable discipline: coarse views re-aggregate the stored fine
    materialization, never raw data), while the oracle aggregates raw
    events at the daily grain directly. DECIMAL(38,6) sums make
    re-aggregation exact, so the two must match bit-for-bit."""
    from .operators.temporal import hypertable_rollup

    ev = _events(spark, sf)
    _fine, coarse = hypertable_rollup(
        ev, ts_col="ts", value_col="value", fine="hour", coarse="day", key_col="event_type"
    )
    return coarse.select(
        "bucket", "event_type", F.col("sum_value").cast("double").alias("sum_value"), "n_rows"
    )


@_register(
    "hudi_time_travel",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 400",
)
def hudi_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time travel over a Hudi copy-on-write layout
    (`sources/hudi.py`: .hoodie commit timeline, file-group slice
    resolution): the pin at the first instant must see only the first
    commit, AND a later rewrite of that file group must not leak into
    the pinned read (copy-on-write supersession)."""
    from .sources.hudi import HudiFixtureWriter, HudiTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = HudiFixtureWriter(f"{tmp}/t")
        w.commit(o.filter(F.col("o_orderkey") <= 400), file_id="grp1")
        w.commit(o.filter(F.col("o_orderkey") > 400))  # newer group
        # rewrite grp1 with zeroed prices: the first-instant pin must
        # NOT see this
        w.commit(
            o.filter(F.col("o_orderkey") <= 400).withColumn("o_totalprice", F.lit(0.0)),
            file_id="grp1",
        )

    tmp = _session_fixture("hudi_tt", sf, build)
    t = HudiTable(f"{tmp}/t")
    return t.read(spark, instant=t.instants()[0])


@_register(
    "hudi_changes_since",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey > 400",
)
def hudi_changes_since(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental consumption off the Hudi timeline: checkpointed at
    the first instant, pure-insert commits deliver exactly their file
    versions as the delta (a group rewrite would reset to a full
    re-read — covered in test_hudi)."""
    from .positions import TableSnapshotPosition
    from .sources.hudi import HudiFixtureWriter, HudiTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = HudiFixtureWriter(f"{tmp}/t")
        w.commit(o.filter(F.col("o_orderkey") <= 400))
        w.commit(o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)))
        w.commit(o.filter(F.col("o_orderkey") > 900))

    tmp = _session_fixture("hudi_inc", sf, build)
    t = HudiTable(f"{tmp}/t")
    pos = TableSnapshotPosition(snapshot_id=int(t.instants()[0]))
    df, _pos = t.changes_since(spark, pos)
    return df


@_register(
    "iceberg_row_deletes",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 100 AND o_orderkey <= 400
    """,
)
def iceberg_row_deletes(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v2 positional deletes end-to-end (`sources/iceberg.py`):
    keys <= 100 are deleted from a 401-row commit via a content=1
    delete file naming each victim's physical (file, row_index) — the
    read resolves merge-on-read through a broadcast anti-join on
    Spark's parquet metadata columns, no data rewrite. The oracle is
    simply the surviving key range."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=17)
        s1 = w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000)
        t = IcebergTable(f"{tmp}/t")
        located = (
            t.read(spark, snapshot_id=s1)
            .withColumn("_f", scan_file_key())
            .withColumn("_p", F.col("_metadata.row_index"))
            .filter(F.col("o_orderkey") <= 100)
            .select("_f", "_p")
            .collect()
        )
        w.delete_positions([(r._f, r._p) for r in located], timestamp_ms=2000)

    tmp = _session_fixture("ice_del", sf, build)
    return IcebergTable(f"{tmp}/t").read(spark)


@_register(
    "iceberg_equality_deletes",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey <= 400 AND o_custkey >= 20
    """,
)
def iceberg_equality_deletes(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v2 equality deletes (`sources/iceberg.py`): every order
    of customers 0..19 is removed by a content=2 delete file matching
    on o_custkey — a NON-unique column, so each delete row erases many
    data rows, which positional deletes cannot express without
    enumerating them. Match columns resolve through field IDS in the
    metadata schema (the spec's rename-proof indirection)."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=23)
        w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000)
        w.delete_equality(
            [{"o_custkey": c} for c in range(20)], ["o_custkey"], timestamp_ms=2000
        )

    tmp = _session_fixture("ice_eq", sf, build)
    return IcebergTable(f"{tmp}/t").read(spark)


@_register(
    "iceberg_partition_prune",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey > 400 AND o_orderkey <= 900
    """,
)
def iceberg_partition_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest-bounds file pruning (`sources/iceberg.py
    data_files_pruned`; reference negotiates the same snapshot+
    predicate planning at `crates/cdf-source-iceberg/src/driver.rs:
    902-1060`): three commits with disjoint o_orderkey ranges give
    three data files with distinct column bounds; a range predicate
    must scan exactly ONE of them — asserted here, so the oracle gate
    itself fails if pruning stops working — and the surviving file
    still passes exact row filters, so values match the plain SQL
    filter."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=29)
        w.append(o.filter(F.col("o_orderkey") <= 400).coalesce(1), timestamp_ms=1000)
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)).coalesce(1),
            timestamp_ms=2000,
        )
        w.append(o.filter(F.col("o_orderkey") > 900).coalesce(1), timestamp_ms=3000)

    tmp = _session_fixture("ice_prune", sf, build)
    out, plan = IcebergTable(f"{tmp}/t").scan(
        spark,
        ScanRequest(
            "orders_ice",
            predicates=[(Col("o_orderkey") > Lit(400)) & (Col("o_orderkey") <= Lit(900))],
        ),
    )
    meta = plan.partitions.meta
    if not (meta["files_total"] == 3 and meta["files_kept"] == 1):
        raise AssertionError(f"bounds pruning regressed: {meta}")
    return out


@_register(
    "iceberg_transform_prune",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey = 7 AND o_orderkey <= 3000
    """,
)
def iceberg_transform_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg PARTITION-TRANSFORM pruning (`sources/iceberg.py`): the
    table is bucketed by `bucket[8](o_custkey)` — the spec's murmur3,
    NOT Spark's hash — so an equality predicate on the source column
    must be PROJECTED into bucket space (inclusive projection) and
    prune ~7/8 of the files, while the projected predicate alone can
    never prune the matching bucket (asserted); residual filters then
    deliver exact rows, so values match the plain SQL filter."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(
            f"{tmp}/t", seed=41, partition_by=[("bucket", 8, "o_custkey")]
        )
        w.append(o.filter(F.col("o_orderkey") <= 3000), timestamp_ms=1000)

    tmp = _session_fixture("ice_bucket", sf, build)
    out, plan = IcebergTable(f"{tmp}/t").scan(
        spark, ScanRequest("orders_ice_b", predicates=[Col("o_custkey") == Lit(7)])
    )
    meta = plan.partitions.meta
    if not (meta["files_pruned"] > 0 and meta["files_kept"] >= 1):
        raise AssertionError(f"bucket-transform pruning regressed: {meta}")
    return out


@_register(
    "iceberg_dest_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 400 OR o_orderkey > 900
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def iceberg_dest_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg as a DESTINATION (`package/iceberg_dest.py`): packages
    commit into a real Iceberg table — APPEND by segment copy, MERGE as
    ONE snapshot carrying an equality-delete of the batch's keys plus
    the batch's data files at the same sequence number (the Flink-CDC
    upsert shape; correct through the reader's sequence scoping). The
    query returns the merged table as ANY Iceberg reader resolves it;
    the oracle recomputes the merge relationally."""
    from .package import PackageBuilder
    from .package.iceberg_dest import IcebergDestination
    from .sources.base import WriteDisposition

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = IcebergDestination(f"{tmp}/t", merge_keys=["o_orderkey"])
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_up")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        batch = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") <= 400) | (F.col("o_orderkey") > 900)
            ).withColumn("o_totalprice", F.lit(-1.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified):
            raise RuntimeError("iceberg commit receipt failed verification")

    tmp = _session_fixture("ice_dest_up", sf, build)
    return IcebergDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "iceberg_dest_partitioned_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 400 OR o_orderkey > 900
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def iceberg_dest_partitioned_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE into a PARTITIONED Iceberg table (bucket(8, o_orderkey)):
    one snapshot carrying partition-split data files AND
    partition-SCOPED equality-delete key files (the spec source column
    is a merge key, so an older row matching key K necessarily lives
    in partition(K)). Pruning is asserted in-query AFTER the merge —
    the commit must leave every entry with a typed partition tuple —
    and the oracle recomputes the merge relationally. Closes the last
    explicit disposition refusal (`package/iceberg_dest.py`); the
    reference's destination protocol has no disposition carve-outs
    (crates/cdf-kernel/src/destination.rs:370-410)."""
    from .expressions.ast import Col, Lit
    from .package import PackageBuilder
    from .package.iceberg_dest import IcebergDestination
    from .sources.base import WriteDisposition
    from .sources.iceberg import IcebergTable
    from .plans.scan import ScanRequest

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = IcebergDestination(
            f"{tmp}/t",
            merge_keys=["o_orderkey"],
            partition_by=[("bucket", 8, "o_orderkey")],
        )
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_pup")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        batch = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") <= 400) | (F.col("o_orderkey") > 900)
            ).withColumn("o_totalprice", F.lit(-1.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified):
            raise RuntimeError("partitioned iceberg merge receipt failed verification")

    tmp = _session_fixture("ice_dest_pup", sf, build)
    t = IcebergTable(f"{tmp}/t")
    # pruning must survive the merge: a point predicate projects into
    # bucket space and drops most files even though an upsert snapshot
    # (delete + data entries) is now current
    _out, plan = t.scan(
        spark, ScanRequest("orders_ice_pup", predicates=[Col("o_orderkey") == Lit(7)])
    )
    meta = plan.partitions.meta
    if not (meta["files_pruned"] > 0 and meta["files_kept"] >= 1):
        raise AssertionError(f"post-merge partition pruning regressed: {meta}")
    return t.read(spark)


@_register(
    "declarative_iceberg_run",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey <= 900 AND o_custkey < 500
    """,
)
def declarative_iceberg_run(spark: SparkSession, sf: str) -> DataFrame:
    """A TOML document drives a NON-files source end-to-end
    (`declarative.py:_build_resource`): source kind=iceberg over a real
    Iceberg fixture table -> contract filter transform -> package ->
    parquet destination commit + verify — the reference's compile-any-
    declared-source path (`crates/cdf-declarative/src/compiled.rs`).
    Returns the committed destination as read back from disk."""
    from pathlib import Path as _Path

    from .declarative import Workspace
    from .sources.iceberg import IcebergFixtureWriter

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/ice", seed=73)
        w.append(o.filter(F.col("o_orderkey") <= 900), timestamp_ms=1000)
        _Path(f"{tmp}/cdf.toml").write_text(
            f"""
[resources.ice_orders]
primary_key = ["o_orderkey"]

[resources.ice_orders.source]
kind = "iceberg"
path = "{tmp}/ice"

[[resources.ice_orders.contract.transforms]]
transform = "filter"
expression = "o_custkey < 500"

[resources.ice_orders.destination]
kind = "parquet"
"""
        )
        ws = Workspace(f"{tmp}/ws")
        compiled = ws.compile_file(f"{tmp}/cdf.toml")["ice_orders"]
        result = ws.run(spark, compiled)
        if not result.receipt.verified:
            raise RuntimeError("declarative iceberg run failed receipt verification")

    tmp = _session_fixture("decl_ice", sf, build)
    return spark.read.parquet(f"{tmp}/ws/warehouse/ice_orders")


@_register(
    "bloom_membership_keys",
    """
    WITH r AS (SELECT range AS j FROM range(0, 4)),
    build AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5(r.j || ':' || CAST(o_orderkey AS VARCHAR)), 1, 15))
             AS BIGINT) % 4096 AS pos
      FROM orders, r WHERE o_orderkey <= 900
    ),
    cand AS (
      SELECT DISTINCT o_orderkey AS candidate FROM orders WHERE o_orderkey > 700
    ),
    probe AS (
      SELECT c.candidate,
        CAST(('0x' || substr(md5(r.j || ':' || CAST(c.candidate AS VARCHAR)), 1, 15))
             AS BIGINT) % 4096 AS pos
      FROM cand c CROSS JOIN r
    ),
    hits AS (
      SELECT candidate, count(*) AS s
      FROM probe WHERE pos IN (SELECT pos FROM build)
      GROUP BY candidate
    )
    SELECT c.candidate, coalesce(h.s, 0) = 4 AS maybe_present
    FROM cand c LEFT JOIN hits h ON c.candidate = h.candidate
    """,
)
def bloom_membership_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter membership with exact SQL parity
    (`operators/sketches.py`): keys <= 900 build a 4096-bit filter
    (4 md5-derived hashes); candidates > 700 probe it. No false
    negatives; false positives at the classical rate — and because
    the hashes are engine-portable, WHICH candidates false-positive
    is deterministic, so the sketch itself is value-verified (like
    the HLL and count-min siblings). The filter is mergeable by
    bit-union and broadcasts — the decontamination-style pre-filter
    shape at 100 TB."""
    from .operators.sketches import bloom_membership

    o = _t(spark, sf, "orders")
    return bloom_membership(
        o.filter(F.col("o_orderkey") <= 900),
        "o_orderkey",
        o.filter(F.col("o_orderkey") > 700),
        "o_orderkey",
        m=4096,
        k_hashes=4,
    )


@_register(
    "stratified_topk_sample",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR))
             ) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def stratified_topk_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT-k deterministic per-stratum sampling
    (`operators/sampling.py stratified_topk_sample`): the 20 smallest
    md5-rank docs per lang — a hash-rank reservoir with no RNG state,
    bit-reproducible across runs, partitionings, and engines (the
    oracle recomputes the identical ranking). Complements the
    rate-based hash gate: quotas and eval-set carving need exactly k,
    not ~p*n."""
    from .operators.sampling import stratified_topk_sample

    return stratified_topk_sample(
        _t(spark, sf, "documents").select("doc_id", "lang", "source"),
        k=20,
        strata_cols=["lang"],
        identity_cols=["doc_id"],
    )


@_register(
    "hudi_partitioned_scan",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderstatus = 'P'
    """,
)
def hudi_partitioned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Hive-partitioned Hudi CoW (`sources/hudi.py`): files under
    col=value dirs, partitionToWriteStats keyed by partition path, and
    the negotiated scan prunes whole partitions from the path values
    before Spark lists a file — asserted in-query, values against the
    plain filtered projection."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.hudi import HudiFixtureWriter, HudiTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        w = HudiFixtureWriter(f"{tmp}/t", partition_by=["o_orderstatus"])
        w.commit(o)

    tmp = _session_fixture("hudi_part", sf, build)
    out, plan = HudiTable(f"{tmp}/t").scan(
        spark, ScanRequest("h", predicates=[Col("o_orderstatus") == Lit("P")])
    )
    meta = plan.partitions.meta
    if not (meta["files_total"] == 3 and meta["files_kept"] == 1):
        raise AssertionError(f"hudi partition pruning regressed: {meta}")
    return out


def _hudi_mor_fixture(spark: SparkSession, sf: str) -> str:
    """Shared MoR fixture: initial load of orders <= 900, log-file
    upserts doubling prices above 400, log-file deletes of keys <= 100.
    Never compacted — snapshot must merge pending logs."""
    from .sources.hudi_mor import HudiMorFixtureWriter

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        o = o.filter(F.col("o_orderkey") <= 900)
        w = HudiMorFixtureWriter(f"{tmp}/t", record_key="o_orderkey", n_buckets=4)
        w.insert(o)
        w.upsert(
            o.filter(F.col("o_orderkey") > 400).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            )
        )
        w.delete(o.filter(F.col("o_orderkey") <= 100).select("o_orderkey"))

    return _session_fixture("hudi_mor", sf, build)


@_register(
    "hudi_mor_snapshot",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey > 400 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 900
    """,
)
def hudi_mor_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MERGE-ON-READ snapshot query (`sources/hudi_mor.py`):
    base parquet ∪ executor-decoded log blocks (HoodieLogFormat-shaped
    Avro data + delete blocks), one first-win window per record key
    over DIRTY file groups only. The upserts must overwrite, the
    deletes must remove, untouched rows pass through unmerged."""
    from .sources.hudi_mor import HudiMorTable

    tmp = _hudi_mor_fixture(spark, sf)
    return HudiMorTable(f"{tmp}/t").snapshot(spark)


@_register(
    "hudi_mor_partitioned_scan",
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey > 400 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey > 100 AND o_orderkey <= 900 AND o_orderstatus = 'F'
    """,
)
def hudi_mor_partitioned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MoR over a HIVE-PARTITIONED layout (`sources/hudi_mor.py`
    r7): base and log files under `o_orderstatus=<v>/` dirs, file
    groups partition-local. The scan's partition-column predicate
    prunes whole FILE GROUPS (base + their logs) BEFORE the merge —
    safe because a group's base rows and log records all belong to its
    partition — asserted in-query via the plan's pruning evidence; all
    predicates stay engine-applied (the merge sits below them) and the
    oracle recomputes upserts+deletes+filter relationally."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.hudi_mor import HudiMorFixtureWriter, HudiMorTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        o = o.filter(F.col("o_orderkey") <= 900)
        w = HudiMorFixtureWriter(
            f"{tmp}/t", record_key="o_orderkey", n_buckets=2,
            partition_by=["o_orderstatus"],
        )
        w.insert(o)
        w.upsert(
            o.filter(F.col("o_orderkey") > 400).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            )
        )
        w.delete(
            o.filter(F.col("o_orderkey") <= 100).select("o_orderkey", "o_orderstatus")
        )

    tmp = _session_fixture("hudi_mor_part", sf, build)
    out, plan = HudiMorTable(f"{tmp}/t").scan(
        spark, ScanRequest("mor_part", predicates=[Col("o_orderstatus") == Lit("F")])
    )
    meta = plan.partitions.meta
    if not (meta["files_pruned"] > 0 and meta["file_groups_kept"] >= 1):
        raise AssertionError(f"MoR partition pruning regressed: {meta}")
    if plan.pushed:
        raise AssertionError("MoR scan must not claim pushed predicates")
    return out


@_register(
    "hudi_mor_read_optimized",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900",
)
def hudi_mor_read_optimized(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MoR read-optimized query: base files only — the pending
    log upserts/deletes of the shared fixture must be INVISIBLE (the
    compaction-lag trade Hudi documents for RO reads). Plain parquet
    scan, full Catalyst pushdown."""
    from .sources.hudi_mor import HudiMorTable

    tmp = _hudi_mor_fixture(spark, sf)
    return HudiMorTable(f"{tmp}/t").read_optimized(spark)


@_register(
    "hudi_mor_changes_since",
    """
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderkey > 400 AND o_orderkey <= 900
    """,
)
def hudi_mor_changes_since(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MoR incremental query: checkpointed at the initial load,
    the delta is exactly the records whose last touch is a later
    instant — the upserted rows at their merged values; deletions
    surface as absence (Hudi's incremental semantics on MoR)."""
    from .positions import TableSnapshotPosition
    from .sources.hudi_mor import HudiMorTable

    tmp = _hudi_mor_fixture(spark, sf)
    t = HudiMorTable(f"{tmp}/t")
    pos = TableSnapshotPosition(snapshot_id=int(t.instants()[0]))
    df, _new = t.changes_since(spark, pos)
    return df


@_register(
    "hudi_mor_compaction",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 100 THEN 0.0
                WHEN o_orderkey > 200 THEN o_totalprice * 3
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey <= 400
    """,
)
def hudi_mor_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MoR compaction supersession: logs folded into new base
    versions by a real `.commit`, then FRESH post-compaction logs
    against the new base. The snapshot must see compacted state +
    new logs; stale pre-compaction logs must not re-apply."""
    from .sources.hudi_mor import HudiMorFixtureWriter, HudiMorTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        o = o.filter(F.col("o_orderkey") <= 400)
        w = HudiMorFixtureWriter(f"{tmp}/t", record_key="o_orderkey", n_buckets=3)
        w.insert(o)
        w.upsert(
            o.filter(F.col("o_orderkey") > 200).withColumn(
                "o_totalprice", F.col("o_totalprice") * 3
            )
        )
        w.compact(spark)
        w.upsert(
            o.filter(F.col("o_orderkey") <= 100).withColumn("o_totalprice", F.lit(0.0))
        )

    tmp = _session_fixture("hudi_mor_compact", sf, build)
    return HudiMorTable(f"{tmp}/t").snapshot(spark)


@_register(
    "training_shuffle_order",
    """
    SELECT doc_id, lang,
           md5('7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(row_number() OVER (
             ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS BIGINT) AS position
    FROM documents
    """,
)
def training_shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global corpus shuffle (`operators/packing.py
    training_shuffle`): engine-portable md5 sort keys plus EXACT global
    positions computed WITHOUT a single-partition global window —
    range-repartition on the key, per-partition counts -> cumulative
    offsets (O(partitions) driver state), per-partition rank. The
    oracle recomputes the same order with a plain window; positions
    must match value-for-value, proving the two-pass offset pattern
    equals the global sort."""
    from .operators.packing import training_shuffle

    return training_shuffle(
        _t(spark, sf, "documents").select("doc_id", "lang"), id_col="doc_id", seed=7
    )


_DUP_SPAN_ORACLE_CTES = """
    w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 10
    ),
    g AS (
      SELECT doc_id, CAST(i.range AS INT) AS p,
             md5(array_to_string(list_slice(ws, CAST(i.range+1 AS INT), CAST(i.range+10 AS INT)), ' ')) AS h
      FROM w CROSS JOIN range(0, 1000) i WHERE i.range + 10 <= len(ws)
    ),
    fl AS (
      SELECT doc_id, p, COUNT(*) OVER (PARTITION BY h) AS c,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
      FROM g
    ),
    f AS (SELECT doc_id, p FROM fl WHERE c > 1 AND rn > 1),
    isl AS (
      SELECT doc_id, p,
        CASE WHEN p > COALESCE(MAX(p + 10) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS ni
      FROM f
    ),
    i2 AS (SELECT doc_id, p, SUM(ni) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM isl),
    spans AS (
      SELECT doc_id, MIN(p) AS span_start, MAX(p) + 10 AS span_end
      FROM i2 GROUP BY doc_id, island
    )
"""


def _mojibake_oracle() -> str:
    """Replace chain generated from the SAME map the operator uses —
    the oracle and the engine cannot drift."""
    from .operators.normalize import MOJIBAKE_FIXES

    snippet = "naïve “quote café 25° déjà-vu – ".encode("utf-8").decode("cp1252")
    expr = "mt"
    for bad, good in MOJIBAKE_FIXES:
        expr = f"replace({expr}, '{bad}', '{good}')"
    return f"""
    WITH m AS (
      SELECT doc_id, '{snippet}' || text AS mt FROM documents
    )
    SELECT doc_id, {expr} AS text_fixed,
           CAST(length(mt) - length({expr}) AS INT) AS chars_collapsed
    FROM m
    """


@_register("mojibake_repair_docs", _mojibake_oracle())
def mojibake_repair_docs(spark: SparkSession, sf: str) -> DataFrame:
    """MOJIBAKE repair (`operators/normalize.mojibake_repair`) — the
    dominant encoding corruption in web crawls: UTF-8 bytes decoded as
    Windows-1252 ('cafÃ©', 'â€œquoted'). The repair map is GENERATED
    (each target char's UTF-8 bytes re-decoded as cp1252), applied as
    a longest-first literal replace chain — pure built-ins, zero
    shuffle, byte-identical semantics in Spark/DuckDB/Python; the
    oracle's chain is generated from the SAME map so engine and oracle
    cannot drift. The fixture prepends a corrupted snippet to every
    doc; chars_collapsed counts the shrinkage (a free corruption
    signal)."""
    from .operators.normalize import mojibake_repair

    snippet = "naïve “quote café 25° déjà-vu – ".encode("utf-8").decode("cp1252")
    docs = _t(spark, sf, "documents").select(
        "doc_id", F.concat(F.lit(snippet), F.col("text")).alias("text")
    )
    return mojibake_repair(docs)


@_register(
    "near_dup_keeper_selection",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)]) AS s
      FROM documents
    ),
    ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
    p AS (
      SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, b.sz sb, count(*) inter
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1,2,3,4
    ),
    prs AS (
      SELECT id_a, id_b FROM p WHERE inter::DOUBLE / (sa + sb - inter) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster FROM walk GROUP BY id),
    f AS (
      SELECT doc_id, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
        CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', '')))
          + (length(text) - length(replace(text, ';', ''))) AS n_punct
      FROM documents
    ), g2 AS (
      SELECT doc_id, n_tokens,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS atl,
        round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS pr,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS sr
      FROM f
    ),
    sc AS (
      SELECT doc_id,
        round(1.0/(1.0 + exp(-(-1.5 + CAST(n_tokens AS DOUBLE) * 0.02 + atl * 0.35 + sr * 6.0 + pr * (-4.0)))), 6) AS clf_score
      FROM g2
    )
    SELECT c.doc_id, c.cluster, s.clf_score,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster ORDER BY s.clf_score DESC, c.doc_id) = 1) AS keep
    FROM cl c JOIN sc s USING (doc_id)
    """,
)
def near_dup_keeper_selection(spark: SparkSession, sf: str) -> DataFrame:
    """CANONICAL KEEPER selection — real pipelines don't keep the
    FIRST member of a near-dup cluster, they keep the BEST one:
    connected-component clusters over jaccard>=0.8 pairs, then the
    highest-classifier-score member wins (doc_id tiebreak). One window
    over the cluster id on top of the existing cluster machinery; the
    oracle replays clustering (recursive CTE), scoring, and the argmax
    window."""
    from .operators.curation import quality_clf_score
    from .operators.dedup_approx import dedup_clusters, ngram_jaccard_pairs

    docs = _t(spark, sf, "documents")
    clusters = dedup_clusters(
        docs.select("doc_id"),
        ngram_jaccard_pairs(docs, threshold=0.8).select("id_a", "id_b"),
    )
    scored = docs.select("doc_id", quality_clf_score(F.col("text")).alias("clf_score"))
    j = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster").orderBy(F.col("clf_score").desc(), F.col("doc_id"))
    return j.select(
        "doc_id",
        "cluster",
        "clf_score",
        (F.row_number().over(w) == 1).alias("keep"),
    )


@_register(
    "stream_static_enrich_drain",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_id IS NOT NULL
    """,
)
def stream_static_enrich_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM-STATIC ENRICHMENT on a real readStream drain — the
    dimension-join every event-ingest pipeline runs (enrich each event
    with its slowly-changing dimension row at ingest time, so
    downstream consumers never re-join): events split into 3 file
    micro-batches, each epoch inner-joins the STATIC customer
    dimension (broadcast — Spark re-plans the static side per
    micro-batch, which is what makes stream-static joins safe without
    watermarks). The committed table must equal the plain batch join —
    the relational oracle."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _Path

        ev = _t(spark, sf, "events").select(*cols).filter("event_id IS NOT NULL")
        (_Path(tmp) / "in").mkdir()
        for i in range(3):
            stage = tempfile.mkdtemp(prefix="cdf_sse_part_")
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            shutil.move(str(src), f"{tmp}/in/part-{i}.parquet")
            shutil.rmtree(stage, ignore_errors=True)

        dim = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")
        enriched = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
            .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"), "inner")
            .select("event_id", "user_id", "c_name", "c_mktsegment", "value")
        )
        q = (
            enriched.writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("stream_static_enrich", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )


@_register(
    "decontamination_pair_report",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(str_split(trim(text), ' '), t -> length(t) > 0) AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct([CAST(('0x'||substr(md5(array_to_string(ts[i:i+3], ' ')),1,15)) AS BIGINT)
                            for i in range(1, len(ts)-2)]) AS gs
      FROM toks
    ),
    ev AS (
      SELECT doc_id AS eval_id, gs AS egs, len(gs) AS n_eval FROM grams
      WHERE doc_id % 97 = 0 AND len(gs) > 0
    ),
    cand AS (
      SELECT doc_id, gs, len(gs) AS n_grams FROM grams
      WHERE doc_id % 97 <> 0 AND len(gs) > 0
    ),
    ce AS (SELECT doc_id, n_grams, unnest(gs) AS g FROM cand),
    ee AS (SELECT eval_id, n_eval, unnest(egs) AS g FROM ev),
    pairs AS (
      SELECT ce.doc_id, ee.eval_id, ce.n_grams, ee.n_eval, COUNT(*) AS n_shared
      FROM ce JOIN ee ON ce.g = ee.g
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, eval_id, CAST(n_shared AS BIGINT) AS n_shared,
           round(CAST(n_shared AS DOUBLE) / (n_grams + n_eval - n_shared), 6) AS jaccard,
           round(CAST(n_shared AS DOUBLE) / (n_grams + n_eval - n_shared), 6) >= 0.1 AS contaminated
    FROM pairs
    """,
)
def decontamination_pair_report(spark: SparkSession, sf: str) -> DataFrame:
    """PER-PAIR decontamination
    (`operators/curation.decontamination_pairs`) — the data-card
    report `decontamination_check` can't give: WHICH benchmark item
    leaked into WHICH training doc, with the exact distinct-4-gram
    Jaccard. Eval side (doc_id % 97 — bounded by benchmark size, not
    corpus size) explodes and BROADCASTS; candidates explode once,
    equi-join on the gram hash, one per-(doc, eval) aggregation;
    zero-overlap pairs never materialize. Oracle recomputes every
    pair's gram sets and Jaccard in SQL."""
    from .operators.curation import decontamination_pairs

    docs = _t(spark, sf, "documents")
    ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    cand = docs.filter(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    return decontamination_pairs(cand, ev, n=4, threshold=0.1)


@_register(
    "boilerplate_line_removal",
    """
    WITH m AS (
      SELECT doc_id,
        substr(text, 1, 40) || chr(10)
          || 'All rights reserved (c) Example Corp' || chr(10)
          || substr(text, 41, 30) || chr(10)
          || CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter today'
                  ELSE substr(text, 71, 40) END AS mt
      FROM documents
    ),
    ex AS (
      SELECT doc_id, CAST(i.range AS INT) AS p,
             list_extract(str_split(mt, chr(10)), CAST(i.range + 1 AS INT)) AS line
      FROM m CROSS JOIN range(0, 4) i
    ),
    exk AS (SELECT doc_id, p, line, lower(trim(line)) AS k FROM ex),
    boiler AS (
      SELECT k FROM exk GROUP BY k
      HAVING COUNT(DISTINCT doc_id) >= ceil((SELECT COUNT(*) FROM documents) * 0.05)
    ),
    kept AS (
      SELECT doc_id, p, line FROM exk WHERE k NOT IN (SELECT k FROM boiler)
    ),
    agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS text_kept,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT m.doc_id, COALESCE(a.text_kept, '') AS text_kept,
           CAST(4 AS INT) AS n_lines,
           CAST(4 - COALESCE(a.n_kept, 0) AS INT) AS n_dropped
    FROM m LEFT JOIN agg a USING (doc_id)
    """,
)
def boilerplate_line_removal_q(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-FREQUENCY boilerplate removal
    (`operators/normalize.boilerplate_line_removal`) — the CCNet-style
    complement to the C4 phrase filter: lines drop because they appear
    in >= 5% of DOCUMENTS, no phrase list needed, zero copies kept
    (template noise, not content — vs `segment_dedup`'s keep-first).
    The fixture wraps each doc in a crawl-shaped page: unique content
    lines plus a footer planted in EVERY doc (df=100%) and a
    newsletter line in half (df=50%); both drop corpus-wide, content
    survives. The boilerplate SET is small by construction (only
    corpus-common lines pass the HAVING), so the removal join
    broadcasts; threshold comes from a 1-row agg cross-join, not a
    driver collect. The oracle replays explode -> doc-frequency ->
    threshold -> line-exact reassembly in SQL."""
    from .operators.normalize import boilerplate_line_removal

    docs = _t(spark, sf, "documents")
    mt = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.lit("All rights reserved (c) Example Corp"),
            F.substring("text", 41, 30),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(2)) == 0,
                F.lit("Subscribe to our newsletter today"),
            ).otherwise(F.substring("text", 71, 40)),
        ).alias("text"),
    )
    return boilerplate_line_removal(mt, min_doc_frac=0.05)


@_register(
    "dup_substring_spans",
    f"""
    WITH {_DUP_SPAN_ORACLE_CTES}
    SELECT doc_id, CAST(span_start AS INT) AS span_start,
           CAST(span_end AS INT) AS span_end
    FROM spans
    """,
)
def dup_substring_spans_q(spark: SparkSession, sf: str) -> DataFrame:
    """Exact SUBSTRING dedup scan (`operators/curation.dup_spans`) —
    ExactSubstr of Lee et al. 2022 on sliding k=10-token md5
    fingerprints: a window is duplicated when its hash occurs anywhere
    else in the corpus, first occurrence survives, per-doc flagged
    windows merge into maximal (start, end) spans via gaps-and-islands.
    The synthetic corpus's PLANTED duplicate documents surface as
    full-length [0, n) spans. Two shuffles total (gram-hash window,
    per-doc island window); grams exist only transiently in codegen —
    only (md5, doc, pos) rows shuffle. The oracle recomputes
    fingerprints, ranks, and island merges in SQL."""
    from .operators.curation import dup_spans

    return dup_spans(_t(spark, sf, "documents"), k=10)


def dup_substring_spans_fast(spark: SparkSession, sf: str) -> DataFrame:
    """xxhash64 bench twin of the oracled md5 ExactSubstr scan: words
    pre-hash to longs once, each window fingerprint is xxhash64 over
    the k-long slice — no k-word gram string ever materializes (the
    md5 path's dominant CPU). Same plan shape, same spans modulo
    64-bit collisions (parity test-gated)."""
    from .operators.curation import dup_spans

    return dup_spans(_t(spark, sf, "documents"), k=10, hash_fn="xxhash64")


@_register(
    "dup_substring_removal",
    f"""
    WITH {_DUP_SPAN_ORACLE_CTES},
    toks AS (
      SELECT w2.doc_id, CAST(i.range AS INT) AS p,
             list_extract(w2.ws, CAST(i.range+1 AS INT)) AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL) w2
      CROSS JOIN range(0, 1000) i WHERE i.range < len(w2.ws)
    ),
    kept AS (
      SELECT t.doc_id, t.p, t.tok FROM toks t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id AND s.span_start <= t.p AND t.p < s.span_end)
    ),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_cut, COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(a.text_cut, '') AS text_cut,
           CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
           CAST(len(string_split(d.text, ' ')) - COALESCE(a.n_kept, 0) AS INT) AS n_cut
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def dup_substring_removal_q(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr CUT (`operators/curation.remove_dup_spans`) — the
    spans found by `dup_substring_spans` are collapsed to one small
    array per doc (equi-join, no range join, no corpus explode) and a
    higher-order filter drops tokens inside any flagged interval; the
    survivors reassemble in order. Planted full-doc duplicates come
    back as empty strings — evidence, not silent drop. The oracle
    rebuilds every cut text token-by-token, so the value hash pins
    the reassembly (an off-by-one in span bounds or token order
    mismatches the string)."""
    from .operators.curation import dup_spans, remove_dup_spans

    docs = _t(spark, sf, "documents")
    return remove_dup_spans(docs, dup_spans(docs, k=10))


@_register(
    "dup_substring_index_incremental",
    f"""
    WITH {_DUP_SPAN_ORACLE_CTES}
    SELECT doc_id, CAST(span_start AS INT) AS span_start,
           CAST(span_end AS INT) AS span_end
    FROM spans WHERE doc_id >= 250
    """,
)
def dup_substring_index_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL ExactSubstr against a PERSISTED gram index
    (`operators/curation.ExactSubstrIndex`) — the growing-corpus form:
    docs < 150 build the index, 150-249 fold in through `add()` (the
    ingest path: distinct novel grams anti-join + append, bucket-
    partitioned), and the NEW batch (doc_id >= 250) PROBES the stored
    buckets — one membership join, O(batch + touched buckets), the
    corpus never re-hashes or re-shuffles. The fixture asserts the
    incremental contract in-build: probe spans == the full-corpus
    `dup_spans` restricted to the batch's docs; the oracle then
    value-checks those spans against the same full-corpus SQL replay
    the batch query uses."""
    from .operators.curation import ExactSubstrIndex, dup_spans

    def build(tmp: str) -> None:
        docs = _t(spark, sf, "documents")
        idx = ExactSubstrIndex(f"{tmp}/idx")
        idx.build(docs.filter(F.col("doc_id") < 150), k=10)
        idx.add(docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250)))
        batch = docs.filter(F.col("doc_id") >= 250)
        got = idx.probe(batch)
        want = dup_spans(docs, k=10).filter(F.col("doc_id") >= 250)
        g = {(r.doc_id, r.span_start, r.span_end) for r in got.collect()}
        w = {(r.doc_id, r.span_start, r.span_end) for r in want.collect()}
        if g != w:
            raise AssertionError(
                f"incremental probe != full recompute: only_probe={g - w} only_full={w - g}"
            )
        got.write.mode("overwrite").parquet(f"{tmp}/out")

    tmp = _session_fixture("dup_substr_index", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        "doc_id", "span_start", "span_end"
    )


@_register(
    "streaming_dup_span_index_drain",
    f"""
    WITH {_DUP_SPAN_ORACLE_CTES}
    SELECT doc_id, CAST(span_start AS INT) AS span_start,
           CAST(span_end AS INT) AS span_end
    FROM spans
    """,
)
def streaming_dup_span_index_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING ExactSubstr — the shape a continuously-growing corpus
    actually runs: a real readStream drain where every micro-batch (a)
    PROBES the persisted gram index for duplicated spans against
    everything ingested before it, (b) appends the spans to the output
    sink, and (c) folds its own novel grams into the index
    (`foreachBatch` over `ExactSubstrIndex`, starting from an EMPTY
    index). Per-epoch cost is O(batch + touched buckets) — the corpus
    never re-processes, the whole point at 100 TB ingest rates. With
    batches arriving in doc order (mod-times pin the file order), the
    UNION of all epochs' spans must be EXACTLY the batch `dup_spans`
    answer over the full corpus — the same SQL replay oracles it
    value-for-value."""
    from .operators.curation import ExactSubstrIndex

    def build(tmp: str) -> None:
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        docs = _t(spark, sf, "documents").select("doc_id", "text")
        bounds = [(0, 166), (166, 333), (333, 10_000_000)]
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(bounds):
            stage = tempfile.mkdtemp(prefix="cdf_sdsi_part_")
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))  # pin arrival order
            shutil.rmtree(stage, ignore_errors=True)

        idx = ExactSubstrIndex(f"{tmp}/idx")
        idx.build(docs.limit(0), k=10)  # stream starts from NOTHING

        def handle(batch_df, epoch_id: int) -> None:
            # foreachBatch is AT-LEAST-ONCE: a retried epoch must not
            # double its spans (per-epoch dir, overwrite = idempotent)
            # nor see its own crashed fold as "earlier corpus"
            # (before_epoch fence; add() stamps the fold epoch and is
            # itself idempotent via the novel-gram anti-join). The
            # crash/replay path is pinned in test_llm_ops::
            # test_streaming_substr_index_replay_idempotent.
            fence = int(epoch_id) + 1
            idx.probe(batch_df, before_epoch=fence).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/out/epoch={epoch_id}")
            idx.add(batch_df, epoch=fence)

        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_dup_span_index", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        "doc_id", "span_start", "span_end"
    )


@_register(
    "segment_dedup_docs",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE text IS NOT NULL),
    pos AS (SELECT range AS i FROM range(0, 256)),
    seg AS (
      SELECT d.doc_id, pos.i,
             array_to_string(w[pos.i*5+1 : pos.i*5+5], ' ') AS segment
      FROM d, pos WHERE pos.i*5 < len(w)
    ),
    ranked AS (
      SELECT doc_id, i, segment,
             row_number() OVER (PARTITION BY segment ORDER BY doc_id, i) AS rn
      FROM seg
    )
    SELECT doc_id,
           coalesce(string_agg(segment, ' ' ORDER BY i) FILTER (WHERE rn = 1), '')
             AS text_deduped,
           count(*) AS n_segments,
           count(*) FILTER (WHERE rn = 1) AS n_kept
    FROM ranked GROUP BY doc_id
    """,
)
def segment_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document exact span dedup (`operators/curation.py
    segment_dedup` — the Dolma/RefinedWeb paragraph-dedup shape over
    fixed 5-word segments): duplicated segments keep only their first
    (doc, position) occurrence corpus-wide; documents reassemble from
    survivors. One first-occurrence window + one reassembly shuffle —
    the boilerplate-removal pass a training corpus runs before
    document-level dedup."""
    from .operators.curation import segment_dedup

    return segment_dedup(_t(spark, sf, "documents"), "text", "doc_id", width=5)


@_register(
    "delta_dest_merge",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 400 OR o_orderkey > 900
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def delta_dest_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Delta Lake as a DESTINATION (`package/delta_dest.py`): append by
    segment copy, MERGE as merge-on-read (r7 — matched rows are DV'd
    in place executor-side and the batch's segments append in ONE
    commit; `delta_dest_merge_dv` asserts the no-rewrite property).
    The query returns the merged table as any Delta reader resolves
    it; the oracle recomputes the merge relationally — same law the
    Iceberg-destination and tombstone merges satisfy."""
    from .package import PackageBuilder
    from .package.delta_dest import DeltaDestination
    from .sources.base import WriteDisposition

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = DeltaDestination(f"{tmp}/t", merge_keys=["o_orderkey"])
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_dm")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        batch = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") <= 400) | (F.col("o_orderkey") > 900)
            ).withColumn("o_totalprice", F.lit(-1.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified):
            raise RuntimeError("delta commit receipt failed verification")

    tmp = _session_fixture("delta_dest_m", sf, build)
    return DeltaDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "delta_dest_merge_dv",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 400
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def delta_dest_merge_dv(spark: SparkSession, sf: str) -> DataFrame:
    """Delta destination MERGE as MERGE-ON-READ, with the no-rewrite
    property asserted in-query: after the merge every base data file
    is STILL live (re-added with a deletion-vector descriptor where
    rows matched — DV blobs built and written EXECUTOR-side in
    `DeltaFixtureWriter.upsert_files_dv`), so a 0.1%-of-keys batch
    moves descriptors plus the batch, never the table. The oracle
    recomputes the merge relationally; any Delta reader resolving
    the DVs sees the same rows."""
    from .package import PackageBuilder
    from .package.delta_dest import DeltaDestination
    from .sources.base import WriteDisposition
    from .sources.delta import DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = DeltaDestination(f"{tmp}/t", merge_keys=["o_orderkey"])
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_dmv")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        t0 = DeltaTable(f"{tmp}/t")
        base_files = set(t0.files_for_version(t0.current_version()))
        batch = builder.build(
            admitted=o.filter(F.col("o_orderkey") <= 400).withColumn(
                "o_totalprice", F.lit(-1.0)
            )
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified):
            raise RuntimeError("delta DV merge receipt failed verification")
        t1 = DeltaTable(f"{tmp}/t")
        pairs = t1.live_files_with_dvs(t1.current_version())
        live = {f for f, _ in pairs}
        if not base_files <= live:
            raise AssertionError("DV merge rewrote base data files")
        if not any(dv for f, dv in pairs if f in base_files):
            raise AssertionError("DV merge attached no deletion vectors")

    tmp = _session_fixture("delta_dest_mdv", sf, build)
    return DeltaDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "cross_format_replication",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 100 THEN -1.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 900
    """,
)
def cross_format_replication(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ICEBERG -> DELTA replication — the cross-format CDC
    sync a real migration runs, composed entirely from engine pieces:
    `IcebergTable.changes_since` (ancestry-walk incremental
    consumption) feeding `DeltaDestination` MERGE commits through the
    package/receipt protocol. Three cycles: initial full sync, an
    append consumed INCREMENTALLY (the cycle must deliver only the new
    files' rows — asserted), and an upstream UPSERT whose non-append
    snapshot correctly RESETS consumption to a full re-read that the
    key-merge makes idempotent. The oracle recomputes the final state
    relationally; the query returns the DELTA side's read."""
    from .package import PackageBuilder
    from .package.delta_dest import DeltaDestination
    from .sources.base import WriteDisposition
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        iw = IcebergFixtureWriter(f"{tmp}/src", seed=23)
        dest = DeltaDestination(f"{tmp}/dst", merge_keys=["o_orderkey"])
        builder = PackageBuilder(f"{tmp}/pkgs", "ice_to_delta")

        def sync(position, expect_rows=None):
            t = IcebergTable(f"{tmp}/src")
            changed, new_pos = t.changes_since(spark, position)
            if changed is None:
                return position
            n = changed.count()
            if expect_rows is not None and n != expect_rows:
                raise AssertionError(
                    f"incremental cycle delivered {n} rows, expected {expect_rows}"
                )
            pkg = builder.build(admitted=changed)
            receipt = dest.verify(
                spark, dest.commit(spark, pkg, WriteDisposition.MERGE), pkg
            )
            if not receipt.verified:
                raise RuntimeError("replication commit failed receipt verification")
            return new_pos

        # cycle 1: initial full sync
        a = o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 600))
        iw.append(a, timestamp_ms=1000)
        pos = sync(None, expect_rows=a.count())
        # cycle 2: upstream append, consumed incrementally (only the
        # new files' rows cross)
        b = o.filter((F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 900))
        iw.append(b, timestamp_ms=2000)
        pos = sync(pos, expect_rows=b.count())
        # cycle 3: upstream upsert (non-append snapshot) -> consumption
        # resets to a full re-read; the key-merge keeps the sync
        # idempotent
        restated = a.filter(F.col("o_orderkey") <= 100).withColumn(
            "o_totalprice", F.lit(-1.0)
        )
        iw.upsert(restated, ["o_orderkey"], timestamp_ms=3000)
        sync(pos)

    tmp = _session_fixture("xfmt_repl", sf, build)
    return DeltaDestination(f"{tmp}/dst", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "iceberg_partitioned_scan",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def iceberg_partitioned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Identity-partitioned Iceberg table with METADATA-ONLY partition
    columns (`sources/iceberg.py _assemble` + `data_files_pruned`):
    the o_orderstatus column is NOT in the parquet files — it lives
    only in the manifests' typed partition records (the Flink-writer
    shape) — so the read must reconstitute it as per-group constants,
    and the status predicate prunes files by partition value and skips
    whole manifests from the manifest-list summaries. Values must
    equal the plain filtered projection."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        w = IcebergFixtureWriter(
            f"{tmp}/t", seed=41, partition_by=["o_orderstatus"], omit_partition_cols=True
        )
        for i, status in enumerate(["F", "O", "P"]):
            w.append(o.filter(F.col("o_orderstatus") == status), timestamp_ms=1000 + i)

    tmp = _session_fixture("ice_part", sf, build)
    out, plan = IcebergTable(f"{tmp}/t").scan(
        spark, ScanRequest("ice", predicates=[Col("o_orderstatus") == Lit("F")])
    )
    meta = plan.partitions.meta
    if not (meta["manifests_skipped"] >= 2 and meta["files_pruned"] == 0):
        raise AssertionError(f"partition pruning regressed: {meta}")
    return out


@_register(
    "delta_checkpoint_replay",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
)
def delta_checkpoint_replay(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint-parquet replay over a log-cleaned Delta table
    (`sources/delta.py _checkpoint_actions`): two commits are
    checkpointed, a third lands, then the pre-checkpoint JSONs are
    deleted (log retention — the layout every production Delta table
    reaches). The read seeds the live set from the checkpoint parquet
    and applies only the surviving JSON commit; values must equal the
    full orders table."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t")
        w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000)
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)),
            timestamp_ms=2000,
        )
        w.checkpoint()
        w.append(o.filter(F.col("o_orderkey") > 900), timestamp_ms=3000)
        w.clean_log(before_version=2)

    tmp = _session_fixture("delta_ckpt", sf, build)
    return DeltaTable(f"{tmp}/t").read(spark)


@_register(
    "delta_deletion_vectors",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 100 AND o_orderkey <= 800
    """,
)
def delta_deletion_vectors(spark: SparkSession, sf: str) -> DataFrame:
    """Delta DELETION VECTORS merge-on-read (`sources/delta_dv.py` +
    `delta.py _read_with_dvs`): two DV deletes — one through a real
    `deletion_vector_<uuid>.bin` (Z85 uuid path, crc-framed portable
    RoaringBitmapArray), one inline Z85 — mark victim rows without
    rewriting any parquet; the read decodes descriptors EXECUTOR-side
    and anti-joins on `_metadata.row_index`. Deleted keys must be
    absent, survivors untouched."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t")
        w.append(o.filter(F.col("o_orderkey") <= 900), timestamp_ms=1000)
        w.delete_where(spark, "o_orderkey <= 100", timestamp_ms=2000)
        w.delete_where(spark, "o_orderkey > 800", timestamp_ms=3000, inline=True)

    tmp = _session_fixture("delta_dv", sf, build)
    return DeltaTable(f"{tmp}/t").read(spark)


@_register(
    "delta_column_mapping_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 100 AND o_orderkey <= 900
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 100 AND o_orderkey <= 900
    """,
)
def delta_column_mapping_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Delta COLUMN MAPPING, both modes (`sources/delta.py`): a
    NAME-mode table (physical `col-<uuid>` parquet names resolved to
    logical names from the metaData schemaString — the default layout
    of newer Delta writers) unioned with an ID-mode table (parquet
    FIELD IDS stamped into the files, resolved through Spark's
    `fieldId.read` path so physical names never matter — the
    protocol's id semantics). Both compose with deletion vectors (the
    DV deletes here use logical-name predicates); each half must equal
    the plain relational result."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        for mode in ("name", "id"):
            w = DeltaFixtureWriter(f"{tmp}/{mode}", column_mapping=mode)
            w.append(o.filter(F.col("o_orderkey") <= 900), timestamp_ms=1000)
            w.delete_where(spark, "o_orderkey <= 100", timestamp_ms=2000)

    tmp = _session_fixture("delta_cm", sf, build)
    name_df = DeltaTable(f"{tmp}/name").read(spark)
    id_df = DeltaTable(f"{tmp}/id").read(spark)
    for df in (name_df, id_df):
        if set(df.columns) != {"o_orderkey", "o_custkey", "o_totalprice"}:
            raise AssertionError(f"logical names not restored: {df.columns}")
    return name_df.unionByName(id_df)


@_register(
    "delta_nested_column_mapping_scan",
    """
    SELECT o_orderkey, o_custkey AS cust, o_totalprice AS price,
           o_orderpriority AS pri, 'name' AS mode
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 900
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, 'id'
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 900
    """,
)
def delta_nested_column_mapping_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Delta column mapping over NESTED columns, both modes
    (`sources/delta.py _cm_field_json` recursion — the r7 refusal
    closed): struct and array<struct> columns whose INNER fields are
    mapped too, exactly what real Delta writers emit for tables with
    structs. Name mode reads under the recursive physical schema and
    casts back to logical names (struct casts rename positionally at
    any depth); id mode resolves nested parquet FIELD IDS through
    Spark's fieldId.read path. The result projects through the nested
    fields (`s.cust`, `s.price`, `arr[0].pri`), so a wrong nested
    resolution cannot hash-match the relational oracle."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        nested = o.select(
            "o_orderkey",
            F.struct(
                F.col("o_custkey").alias("cust"),
                F.col("o_totalprice").alias("price"),
            ).alias("s"),
            F.array(F.struct(F.col("o_orderpriority").alias("pri"))).alias("arr"),
        )
        for mode in ("name", "id"):
            w = DeltaFixtureWriter(f"{tmp}/{mode}", column_mapping=mode)
            w.append(nested.filter(F.col("o_orderkey") <= 900), timestamp_ms=1000)
            w.delete_where(spark, "o_orderkey <= 100", timestamp_ms=2000)

    tmp = _session_fixture("delta_nested_cm", sf, build)
    parts = []
    for mode in ("name", "id"):
        df = DeltaTable(f"{tmp}/{mode}").read(spark)
        if df.schema["s"].dataType.fieldNames() != ["cust", "price"]:
            raise AssertionError(f"nested logical names not restored: {df.schema}")
        parts.append(
            df.select(
                "o_orderkey",
                F.col("s.cust").alias("cust"),
                F.col("s.price").alias("price"),
                F.element_at("arr", 1).getField("pri").alias("pri"),
                F.lit(mode).alias("mode"),
            )
        )
    return parts[0].unionByName(parts[1])


@_register(
    "iceberg_binpack_maintenance",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 50 AND o_orderkey <= 800
    """,
)
def iceberg_binpack_maintenance(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg BIN-PACK compaction (`iceberg.py rewrite_small_files`):
    four per-epoch small files + a live equality delete, then a
    rewrite of ONLY the undersized files — one `replace` snapshot,
    deletes resolved into the merged output, O(small files) not
    O(table). The post-maintenance read must equal the logical content
    (Iceberg's RewriteDataFiles binpack contract; the reference's
    maintenance commits are likewise atomic —
    crates/cdf-kernel/src/destination.rs)."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=11)
        for lo, hi, ts in ((0, 200, 1000), (200, 400, 2000), (400, 600, 3000), (600, 800, 4000)):
            w.append(
                o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)),
                timestamp_ms=ts,
            )
        keys = [r.o_orderkey for r in o.filter("o_orderkey <= 50").collect()]
        w.delete_equality([{"o_orderkey": int(k)} for k in keys], ["o_orderkey"], timestamp_ms=5000)
        res = w.rewrite_small_files(spark, small_bytes=1 << 30, target_bytes=1 << 30)
        if res["rewritten"] != 4 or res["files_after"] >= res["files_before"]:
            raise AssertionError(f"bin-pack did not merge: {res}")

    tmp = _session_fixture("ice_binpack", sf, build)
    return IcebergTable(f"{tmp}/t").read(spark)


@_register(
    "delta_optimize_maintenance",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 100 AND o_orderkey <= 900
    """,
)
def delta_optimize_maintenance(spark: SparkSession, sf: str) -> DataFrame:
    """Delta bin-pack OPTIMIZE + VACUUM (`delta.py
    optimize_small_files` / `vacuum`): three per-epoch files, a
    deletion-vector DELETE, then a dataChange=false rewrite of the
    small files (DVs resolved into the merged output) and a
    retention-0 vacuum that reclaims the tombstoned parquet and the
    now-unreferenced DV `.bin`. The read after maintenance must equal
    the logical content — and it runs on the vacuumed layout, so a
    vacuum that over-deletes fails the oracle."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t")
        for lo, hi, ts in ((0, 300, 1000), (300, 600, 2000), (600, 900, 3000)):
            w.append(
                o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)),
                timestamp_ms=ts,
            )
        w.delete_where(spark, "o_orderkey <= 100", timestamp_ms=4000)
        res = w.optimize_small_files(spark, small_bytes=1 << 30)
        if res["rewritten"] != 3:
            raise AssertionError(f"OPTIMIZE did not merge: {res}")
        t = DeltaTable(f"{tmp}/t")
        vres = t.vacuum(retention_ms=0)
        if not vres["deleted"]:
            raise AssertionError(f"vacuum reclaimed nothing: {vres}")

    tmp = _session_fixture("delta_optimize", sf, build)
    return DeltaTable(f"{tmp}/t").read(spark)


@_register(
    "iceberg_sorted_layout_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 800
      AND o_custkey BETWEEN 100 AND 200
    """,
)
def iceberg_sorted_layout_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Sort-clustered rewrite (`iceberg.py rewrite_sorted` — the
    RewriteDataFiles sort strategy): ingest lands interleaved files
    whose bounds all span the full o_custkey range; the rewrite
    range-partitions on o_custkey so per-file bounds become selective.
    The query raises unless the range probe actually prunes files
    (layout evidence), then returns the filtered read — value-matched
    against the plain relational oracle."""
    from .expressions.ast import Binary, Col, Lit
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=17)
        base = o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 800))
        for i in range(4):  # interleaved: every file spans the key range
            w.append(base.filter(F.pmod(F.col("o_custkey"), F.lit(4)) == i), timestamp_ms=1000 + i)
        res = w.rewrite_sorted(spark, by=["o_custkey"], target_files=4, timestamp_ms=5000)
        if res["files_after"] < 2:
            raise AssertionError(f"rewrite produced too few files: {res}")

    tmp = _session_fixture("ice_sorted", sf, build)
    t = IcebergTable(f"{tmp}/t")
    probe = [
        Binary("ge", Col("o_custkey"), Lit(100)),
        Binary("le", Col("o_custkey"), Lit(200)),
    ]
    kept, ev = t.data_files_pruned(t.current_snapshot_id(), probe)
    if ev["files_pruned"] == 0:
        raise AssertionError(f"sorted layout did not prune: {ev}")
    return t.read(spark, _files=kept).filter(
        (F.col("o_custkey") >= 100) & (F.col("o_custkey") <= 200)
    )


@_register(
    "iceberg_zorder_layout_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 800
      AND o_totalprice BETWEEN 50000 AND 80000
    """,
)
def iceberg_zorder_layout_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Z-ORDER rewrite (`iceberg.py rewrite_zorder` — bit-interleaved
    space-filling curve over (o_custkey, o_totalprice)): after the
    rewrite a range probe on the SECOND cluster column must prune
    files — the multi-dimensional locality lexicographic sort cannot
    give — asserted in-query before value-matching the filtered read
    against the relational oracle."""
    from .expressions.ast import Binary, Col, Lit
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=19)
        base = o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 800))
        for i in range(4):
            w.append(base.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i), timestamp_ms=1000 + i)
        res = w.rewrite_zorder(
            spark, by=["o_custkey", "o_totalprice"], target_files=16, timestamp_ms=5000
        )
        if res["files_after"] < 4:
            raise AssertionError(f"zorder produced too few files: {res}")

    tmp = _session_fixture("ice_zorder", sf, build)
    t = IcebergTable(f"{tmp}/t")
    probe = [
        Binary("ge", Col("o_totalprice"), Lit(50000.0)),
        Binary("le", Col("o_totalprice"), Lit(80000.0)),
    ]
    kept, ev = t.data_files_pruned(t.current_snapshot_id(), probe)
    if ev["files_pruned"] == 0:
        raise AssertionError(f"zorder layout did not prune on the trailing column: {ev}")
    return t.read(spark, _files=kept).filter(
        (F.col("o_totalprice") >= 50000) & (F.col("o_totalprice") <= 80000)
    )


@_register(
    "iceberg_wap_publish",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 600
    """,
)
def iceberg_wap_publish(spark: SparkSession, sf: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH (`iceberg.py append(branch=)` +
    `fast_forward` — Iceberg branch refs): two candidate appends stage
    on an 'audit' branch where a quality gate reads them WITHOUT the
    main table ever seeing uncommitted data (asserted in-query:
    main-read row count is unchanged while the branch holds both
    commits); fast_forward then publishes atomically — one metadata
    pointer move, both staged snapshots become history. The final read
    value-matches the relational oracle, so a branch commit leaking
    into main early (or a publish dropping a staged commit) cannot
    hash-match."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=53)
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 400)),
            timestamp_ms=1000,
        )
        base_n = IcebergTable(f"{tmp}/t").read(spark).count()
        # stage TWO commits on the audit branch
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 500)),
            timestamp_ms=2000,
            branch="audit",
        )
        w.append(
            o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 600)),
            timestamp_ms=3000,
            branch="audit",
        )
        t = IcebergTable(f"{tmp}/t")
        if t.read(spark).count() != base_n:
            raise AssertionError("staged branch commits leaked into the main table")
        # audit gate runs against the BRANCH read
        staged = t.read(spark, tag="audit")
        bad = staged.filter(F.col("o_totalprice") <= 0).count()
        if bad:
            raise AssertionError(f"audit failed: {bad} non-positive prices")
        t.fast_forward("audit")

    tmp = _session_fixture("ice_wap", sf, build)
    return IcebergTable(f"{tmp}/t").read(spark).select("o_orderkey", "o_totalprice")


@_register(
    "delta_check_constraints",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 400
    """,
)
def delta_check_constraints(spark: SparkSession, sf: str) -> DataFrame:
    """Delta CHECK constraints (`delta.py add_check_constraint` —
    delta.constraints.* configuration, minWriterVersion 3): adding
    validates existing data, every subsequent data-adding commit is
    enforced writer-side, and a violating batch is refused WITHOUT a
    commit — the final table contains exactly the conforming appends.
    The constraint flag must survive the widening metaData rewrite in
    between (a rebuild-from-scratch configuration silently disables
    enforcement — the bug class the CDF restore work surfaced)."""
    from .sources.delta import DeltaError, DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t")
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 300)),
            timestamp_ms=1000,
        )
        w.add_check_constraint(spark, "price_pos", "o_totalprice > 0", timestamp_ms=2000)
        try:
            w.append(
                o.limit(5).withColumn("o_totalprice", F.lit(-1.0)), timestamp_ms=3000
            )
            raise AssertionError("violating batch was not refused")
        except DeltaError:
            pass
        # widening append: constraint must ride the metaData rewrite
        w.append(
            o.filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 400))
            .withColumn("batch", F.lit("late")),
            timestamp_ms=4000,
        )
        try:
            w.append(
                o.limit(5).withColumn("o_totalprice", F.lit(-2.0)), timestamp_ms=5000
            )
            raise AssertionError("constraint lost after schema widening")
        except DeltaError:
            pass

    tmp = _session_fixture("delta_check", sf, build)
    t = DeltaTable(f"{tmp}/t")
    if t.check_constraints() != {"price_pos": "o_totalprice > 0"}:
        raise AssertionError(f"constraints not persisted: {t.check_constraints()}")
    return t.read(spark).select("o_orderkey", "o_totalprice")


@_register(
    "iceberg_spec_evolution_scan",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'status' AS probe
    FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 800 AND o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'key'
    FROM orders
    WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders
                        WHERE o_orderkey > 400 AND o_orderkey <= 800)
    """,
)
def iceberg_spec_evolution_scan(spark: SparkSession, sf: str) -> DataFrame:
    """PARTITION SPEC EVOLUTION (`iceberg.py update_spec` +
    `data_files_pruned`'s per-spec manifest interpretation): the table
    starts identity-partitioned on o_orderstatus, then evolves to
    bucket(8, o_orderkey) — old files keep their original spec, no
    rewrite, exactly how real engines re-partition hot tables. Probe 1
    (status equality) must prune OLD-era files through their identity
    partition records; probe 2 (point key in the new era) must prune
    NEW-era files through the bucket transform AND old-era files
    through column bounds. Both probes' results value-match the plain
    relational oracle, so a spec misread (old record decoded under the
    new field list) cannot hash-match."""
    from .expressions.ast import Binary, Col, Lit
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        w = IcebergFixtureWriter(f"{tmp}/t", seed=37, partition_by=["o_orderstatus"])
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 400)),
            timestamp_ms=1000,
        )
        new_spec = w.update_spec([("bucket", 8, "o_orderkey")])
        if new_spec != 1:
            raise AssertionError(f"expected spec-id 1, got {new_spec}")
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 800)),
            timestamp_ms=2000,
        )

    tmp = _session_fixture("ice_spec_evo", sf, build)
    t = IcebergTable(f"{tmp}/t")
    sid = t.current_snapshot_id()
    # probe 1: identity partition of the OLD spec
    kept1, ev1 = t.data_files_pruned(sid, [Binary("eq", Col("o_orderstatus"), Lit("F"))])
    if ev1["files_pruned"] == 0:
        raise AssertionError(f"old-spec identity partition did not prune: {ev1}")
    part1 = (
        t.read(spark, _files=kept1)
        .filter(F.col("o_orderstatus") == "F")
        .withColumn("probe", F.lit("status"))
    )
    # probe 2: bucket transform of the NEW spec (point key in era B)
    key = (
        _t(spark, sf, "orders")
        .filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 800))
        .agg(F.max("o_orderkey"))
        .first()[0]
    )
    kept2, ev2 = t.data_files_pruned(sid, [Binary("eq", Col("o_orderkey"), Lit(int(key)))])
    if ev2["files_pruned"] == 0 or len(kept2) > 2:
        raise AssertionError(
            f"bucket pruning under the evolved spec failed: kept={len(kept2)} {ev2}"
        )
    part2 = (
        t.read(spark, _files=kept2)
        .filter(F.col("o_orderkey") == int(key))
        .withColumn("probe", F.lit("key"))
    )
    return part1.unionByName(part2).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "probe"
    )


@_register(
    "delta_data_skipping_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > 250 AND o_orderkey <= 350
    """,
)
def delta_data_skipping_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Delta DATA SKIPPING (`delta.py _footer_stats` + scan): add
    actions carry per-file min/max stats from the parquet footers
    (the stats real Delta writers emit), and the negotiated scan
    prunes whole files by the same tri-state bounds check the Iceberg
    manifests get — asserted in-query — before the read. The
    predicate is a COMPOSITE (AND) shape, which negotiate classifies
    as unsupported-for-the-source: the engine must re-enforce it
    row-level (the silent-drop defect this query regression-guards),
    so the value match proves both the pruning and the residual
    enforcement."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t")
        for lo, hi, ts in ((0, 200, 1000), (200, 400, 2000), (400, 600, 3000), (600, 800, 4000)):
            w.append(
                o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)).coalesce(1),
                timestamp_ms=ts,
            )

    tmp = _session_fixture("delta_skip", sf, build)
    t = DeltaTable(f"{tmp}/t")
    req = ScanRequest(
        "delta_skip",
        projection=None,
        predicates=[(Col("o_orderkey") > Lit(250)) & (Col("o_orderkey") <= Lit(350))],
    )
    df, plan = t.scan(spark, req)
    meta = plan.partitions.meta
    if meta["files_pruned_by_stats"] < 3:
        raise AssertionError(f"data skipping did not prune: {meta}")
    return df


@_register(
    "delta_dest_partitioned_merge_dv",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey > 0 AND o_orderkey <= 600
    ),
    batch AS (
      SELECT o_orderkey, o_orderstatus, -1.0 AS o_totalprice FROM orders
      WHERE (o_orderkey > 0 AND o_orderkey <= 100)
         OR (o_orderkey > 600 AND o_orderkey <= 700)
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def delta_dest_partitioned_merge_dv(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE into a PARTITIONED Delta table as MERGE-ON-READ — the
    last Delta disposition carve-out closed: victims are found under a
    basePath scan (partition columns reconstituted, so merge keys may
    include them), per-file deletion vectors attach without rewriting
    any base file (asserted in-query), the batch partition-splits in
    one distributed write, and partition pruning still works after the
    merge (asserted). The oracle recomputes the merge relationally."""
    from .expressions.ast import Col, Lit
    from .package import PackageBuilder
    from .package.delta_dest import DeltaDestination
    from .plans.scan import ScanRequest
    from .sources.base import WriteDisposition
    from .sources.delta import DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        dest = DeltaDestination(
            f"{tmp}/t", merge_keys=["o_orderkey"], partition_by=["o_orderstatus"]
        )
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_dpmd")
        base = builder.build(
            admitted=o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 600))
        )
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        t0 = DeltaTable(f"{tmp}/t")
        base_files = set(t0.files_for_version(t0.current_version()))
        batch = builder.build(
            admitted=o.filter(
                ((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 100))
                | ((F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 700))
            ).withColumn("o_totalprice", F.lit(-1.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified):
            raise RuntimeError("partitioned delta DV merge receipt failed verification")
        t1 = DeltaTable(f"{tmp}/t")
        live = t1.live_adds(t1.current_version())
        if not base_files <= {p for p, _dv, _pv in live}:
            raise AssertionError("partitioned DV merge rewrote base files")
        if not any(dv for _p, dv, _pv in live):
            raise AssertionError("partitioned DV merge attached no deletion vectors")

    tmp = _session_fixture("delta_dest_pmd", sf, build)
    t = DeltaTable(f"{tmp}/t")
    _df, plan = t.scan(
        spark, ScanRequest("dpmd", predicates=[Col("o_orderstatus") == Lit("F")])
    )
    if plan.partitions.meta["files_pruned_by_partition"] == 0:
        raise AssertionError(f"post-merge pruning regressed: {plan.partitions.meta}")
    return t.read(spark)


@_register(
    "recovery_rollback_restore",
    """
    SELECT 'iceberg' AS fmt, o_orderkey, o_totalprice FROM orders
    WHERE (o_orderkey > 0 AND o_orderkey <= 100)
       OR (o_orderkey > 200 AND o_orderkey <= 250)
    UNION ALL
    SELECT 'delta' AS fmt, o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey > 3 AND o_orderkey <= 100
    """,
)
def recovery_rollback_restore(spark: SparkSession, sf: str) -> DataFrame:
    """Bad-commit recovery on both formats (`iceberg.py rollback_to`,
    `delta.py restore`): the Iceberg table rolls back past a bad
    append and CONTINUES committing (the new snapshot parents on the
    rolled-back-to ancestor, so the abandoned branch never rides
    along); the Delta table restores to a deletion-vector'd version in
    one commit, bit-faithful including the DV. The oracle recomputes
    both recovered states relationally."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        iw = IcebergFixtureWriter(f"{tmp}/ice", seed=29)
        iw.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 100)),
            timestamp_ms=1000,
        )
        good = IcebergTable(f"{tmp}/ice").current_snapshot_id()
        iw.append(  # the bad commit
            o.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)),
            timestamp_ms=2000,
        )
        IcebergTable(f"{tmp}/ice").rollback_to(good)
        iw2 = IcebergFixtureWriter(f"{tmp}/ice")  # fresh writer resumes
        iw2.append(
            o.filter((F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 250)),
            timestamp_ms=3000,
        )

        dw = DeltaFixtureWriter(f"{tmp}/delta")
        dw.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 100)),
            timestamp_ms=1000,
        )
        dw.delete_where(spark, "o_orderkey <= 3", timestamp_ms=2000)  # v1 (DV)
        dw.overwrite(  # the bad commit, v2
            o.filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 400)),
            timestamp_ms=3000,
        )
        dw.restore(1, timestamp_ms=4000)

    tmp = _session_fixture("recovery", sf, build)
    ice = IcebergTable(f"{tmp}/ice").read(spark).withColumn("fmt", F.lit("iceberg"))
    dl = DeltaTable(f"{tmp}/delta").read(spark).withColumn("fmt", F.lit("delta"))
    return ice.unionByName(dl).select("fmt", "o_orderkey", "o_totalprice")


@_register(
    "delta_change_data_feed",
    """
    SELECT o_orderkey, o_totalprice, 'insert' AS _change_type,
           CAST(0 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 1
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 50
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'update_preimage', 2
    FROM orders WHERE o_orderkey > 50 AND o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, -1.0, 'update_postimage', 2
    FROM orders WHERE o_orderkey > 50 AND o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, -1.0, 'insert', 2
    FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 350
    """,
)
def delta_change_data_feed(spark: SparkSession, sf: str) -> DataFrame:
    """CHANGE DATA FEED (`delta.py _cdc_actions` + `table_changes`):
    an append (inserts derived from add files), a deletion-vector
    DELETE (row-level delete change file), and a DV MERGE
    (update_preimage / update_postimage / insert classified against
    the RESOLVED state) replayed as exact row-level changes with
    commit versions — what removes the full-reread reset for CDC
    consumers. The oracle recomputes every change row relationally."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _P

        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 300)),
            timestamp_ms=1000,
        )
        w.delete_where(spark, "o_orderkey <= 50", timestamp_ms=2000)
        batch = (
            o.filter((F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100))
            .withColumn("o_totalprice", F.lit(-1.0))
            .unionByName(
                o.filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 350))
                .withColumn("o_totalprice", F.lit(-1.0))
            )
        )
        seg = tempfile.mkdtemp()
        batch.coalesce(1).write.mode("overwrite").parquet(seg)
        segs = sorted(str(p) for p in _P(seg).glob("*.parquet"))
        w.upsert_files_dv(spark, segs, ["o_orderkey"], timestamp_ms=3000)
        shutil.rmtree(seg, ignore_errors=True)

    tmp = _session_fixture("delta_cdf", sf, build)
    return DeltaTable(f"{tmp}/t").table_changes(spark, 0).select(
        "o_orderkey", "o_totalprice", "_change_type", "_commit_version"
    )


@_register(
    "delta_cdf_restore_replay",
    """
    SELECT o_orderkey, o_totalprice, 'insert' AS _change_type,
           CAST(0 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 500
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 1
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'insert', 2
    FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 700
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'insert', 3
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 3
    FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 700
    """,
)
def delta_cdf_restore_replay(spark: SparkSession, sf: str) -> DataFrame:
    """CDC THROUGH A RESTORE (`delta.py restore`'s `_restore_changes`
    — the r7 verdict's stranded-consumer refusal closed): a RESTORE on
    a CDF table commits its own change-data files (rows it brings back
    as `insert`, rows it undoes as `delete`, a distributed multiset
    diff over CHANGED files only), so `table_changes` replays the
    whole history — append, DV delete, append, restore — without a
    reset-to-full-read. The restore here undoes both a deletion vector
    (its rows re-appear) and a later append (its rows delete); the
    oracle recomputes every change row relationally, so a wrong diff
    direction or a leaked unchanged-file row cannot hash-match."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 500)),
            timestamp_ms=1000,
        )
        w.delete_where(spark, "o_orderkey <= 100", timestamp_ms=2000)
        w.append(
            o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 700)),
            timestamp_ms=3000,
        )
        w.restore(0, timestamp_ms=4000, spark=spark)
        got = DeltaTable(f"{tmp}/t").read(spark).count()
        want = o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 500)).count()
        if got != want:
            raise AssertionError(f"restored state has {got} rows, expected {want}")

    tmp = _session_fixture("delta_cdf_restore", sf, build)
    return DeltaTable(f"{tmp}/t").table_changes(spark, 0).select(
        "o_orderkey", "o_totalprice", "_change_type", "_commit_version"
    )


@_register(
    "iceberg_changelog_scan",
    """
    SELECT o_orderkey, o_totalprice, 'insert' AS _change_type
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete'
    FROM orders WHERE o_orderkey > 50 AND o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, -1.0, 'insert'
    FROM orders WHERE (o_orderkey > 50 AND o_orderkey <= 100)
                   OR (o_orderkey > 300 AND o_orderkey <= 350)
    """,
)
def iceberg_changelog_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg CHANGELOG replay (`iceberg.py changelog_scan` — the
    incremental-changelog-scan twin of Delta's table_changes): an
    append contributes its files' rows as inserts; an equality-delete
    upsert contributes the PARENT state's matching rows as deletes
    plus its data files as inserts — exact row-level CDC derived from
    manifests, no change files needed. The oracle recomputes every
    change row relationally."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=31)
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 300)),
            timestamp_ms=1000,
        )
        batch = (
            o.filter((F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100))
            .withColumn("o_totalprice", F.lit(-1.0))
            .unionByName(
                o.filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 350))
                .withColumn("o_totalprice", F.lit(-1.0))
            )
        )
        w.upsert(batch, ["o_orderkey"], timestamp_ms=2000)

    tmp = _session_fixture("ice_changelog", sf, build)
    return IcebergTable(f"{tmp}/t").changelog_scan(spark).select(
        "o_orderkey", "o_totalprice", "_change_type"
    )


@_register(
    "iceberg_changelog_pos_deletes",
    """
    SELECT o_orderkey, o_totalprice, 'insert' AS _change_type
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete'
    FROM orders WHERE o_orderkey > 50 AND o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, -1.0, 'insert'
    FROM orders WHERE (o_orderkey > 50 AND o_orderkey <= 100)
                   OR (o_orderkey > 300 AND o_orderkey <= 350)
    """,
)
def iceberg_changelog_pos_deletes(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg CHANGELOG over POSITIONAL-delete commits — the commit
    shape real engines' MERGE INTO writes (merge-on-read position
    deletes + new data files in ONE 'overwrite' snapshot), which the
    r7 changelog refused. Delete preimages are reconstructed from the
    parent snapshot at the delete files' (file, pos) addresses via
    the same `_metadata.row_index` join the merge-on-read read path
    uses — one parent scan + a broadcast semi-join, no shuffle. The
    oracle recomputes every change row relationally. Ref frame: the
    destination protocol's addressed corrections make row-level
    history first-class (crates/cdf-kernel/src/correction.rs)."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _P

        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=41)
        s1 = w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 300)),
            timestamp_ms=1000,
        )
        # locate the MERGE victims' physical (file, pos) addresses —
        # what a real engine's MERGE write phase resolves
        t = IcebergTable(f"{tmp}/t")
        located = (
            t.read(spark, snapshot_id=s1)
            .withColumn("_f", scan_file_key())
            .withColumn("_p", F.col("_metadata.row_index"))
            .filter((F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100))
            .select("_f", "_p")
            .collect()
        )
        batch = (
            o.filter((F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100))
            .withColumn("o_totalprice", F.lit(-1.0))
            .unionByName(
                o.filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 350))
                .withColumn("o_totalprice", F.lit(-1.0))
            )
        )
        seg = tempfile.mkdtemp()
        batch.coalesce(1).write.mode("overwrite").parquet(seg)
        segs = sorted(str(p) for p in _P(seg).glob("*.parquet"))
        w.merge_files_pos(
            segs, [(r._f, r._p) for r in located], timestamp_ms=2000
        )
        shutil.rmtree(seg, ignore_errors=True)

    tmp = _session_fixture("ice_changelog_pos", sf, build)
    return IcebergTable(f"{tmp}/t").changelog_scan(spark).select(
        "o_orderkey", "o_totalprice", "_change_type"
    )


@_register(
    "iceberg_changelog_cow_overwrite",
    """
    SELECT o_orderkey, o_totalprice, 'insert' AS _change_type
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete'
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 300
    UNION ALL
    SELECT o_orderkey, -1.0, 'insert'
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 150
    """,
)
def iceberg_changelog_cow_overwrite(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg CHANGELOG over a COPY-ON-WRITE overwrite commit — the
    last refusal class closed (r8 verdict item 2): an overwrite that
    adds data files with NO delete files still names its change set in
    the manifests (removed files = parent-vs-current live-set diff;
    their parent rows are delete preimages, added files are inserts),
    and the default cow_mode='net' multiset EXCEPT-ALL cancels the
    rewritten-unchanged false pairs — so the unchanged keys <=100 the
    overwrite carried over contribute NOTHING, exactly as Spark's own
    create_changelog_view net-changes mode computes it. Reads touch
    only the commit's removed+added files (O(commit), never O(table)).
    The oracle recomputes every net-change row relationally; a leaked
    false pair or a missed delete cannot hash-match. Ref frame: the
    reference's addressed-correction history surface
    (crates/cdf-kernel/src/correction.rs)."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=43)
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 300)),
            timestamp_ms=1000,
        )
        # CoW overwrite: keys <=100 carried over unchanged (must emit
        # no changelog rows), (100, 150] rewritten to -1.0 (delete +
        # insert), (150, 300] dropped (delete only)
        w.overwrite(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 100)).unionByName(
                o.filter(
                    (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 150)
                ).withColumn("o_totalprice", F.lit(-1.0))
            ),
            timestamp_ms=2000,
        )

    tmp = _session_fixture("ice_changelog_cow", sf, build)
    return IcebergTable(f"{tmp}/t").changelog_scan(spark).select(
        "o_orderkey", "o_totalprice", "_change_type"
    )


@_register(
    "delta_cdf_overwrite_range",
    """
    SELECT o_orderkey, o_totalprice, 'insert' AS _change_type, 0 AS _commit_version
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 200
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 1
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 50
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 2
    FROM orders WHERE o_orderkey > 50 AND o_orderkey <= 200
    UNION ALL
    SELECT o_orderkey, -1.0, 'insert', 2
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 300
    """,
)
def delta_cdf_overwrite_range(spark: SparkSession, sf: str) -> DataFrame:
    """Delta CDF straight through an OVERWRITE commit (r8 verdict item
    2, Delta half): a data-changing commit with removes and no change
    files — where delta.io errors — now derives its net change set
    with the same changed-files multiset diff RESTORE commits
    (`DeltaTable._restore_changes`, reused in-window): previous-live
    rows EXCEPT-ALL new rows are deletes, the reverse are inserts, and
    the diff shuffles only the commit's changed-file rows. The window
    replays append -> cdc delete -> overwrite with no reset; the
    oracle recomputes every change row per version."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 200)),
            timestamp_ms=1000,
        )
        w.delete_where(spark, "o_orderkey <= 50", timestamp_ms=2000)
        w.overwrite(
            o.filter(
                (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 300)
            ).withColumn("o_totalprice", F.lit(-1.0)),
            timestamp_ms=3000,
        )

    tmp = _session_fixture("delta_cdf_overwrite", sf, build)
    return DeltaTable(f"{tmp}/t").table_changes(spark, 0).select(
        "o_orderkey", "o_totalprice", "_change_type", "_commit_version"
    )


@_register(
    "cross_format_cdc_replication",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey > 0 AND o_orderkey <= 600
    ),
    upserted AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 100 THEN -1.0 ELSE o_totalprice END AS o_totalprice
      FROM base
      UNION ALL
      SELECT o_orderkey, -1.0 FROM orders
      WHERE o_orderkey > 600 AND o_orderkey <= 700
    )
    SELECT * FROM upserted WHERE o_orderkey NOT BETWEEN 200 AND 250
    """,
)
def cross_format_cdc_replication(spark: SparkSession, sf: str) -> DataFrame:
    """ROW-LEVEL cross-format CDC sync: Iceberg `changelog_scan`
    windows feed a Delta replica through keyed effect application —
    upserts land as DV merges, pure deletes as DV deletes — with NO
    full re-read at any cycle (the changelog replays exact deltas
    across upserts, unlike changes_since's reset; each cycle's
    delivered row count is asserted). Three upstream cycles: append,
    equality-delete upsert, pure keyed delete. The oracle recomputes
    the final replica relationally."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _P

        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        iw = IcebergFixtureWriter(f"{tmp}/src", seed=37)
        dw = DeltaFixtureWriter(f"{tmp}/dst")

        def sync(position, expect_rows):
            t = IcebergTable(f"{tmp}/src")
            ch = t.changelog_scan(spark, from_snapshot_id=position)
            n = ch.count()
            if n != expect_rows:
                raise AssertionError(f"cycle delivered {n} change rows, expected {expect_rows}")
            # keyed effect application per snapshot window: a key with
            # an insert wins (upsert); delete-only keys are removed
            ins = ch.filter(F.col("_change_type") == "insert").drop(
                "_change_type", "_snapshot_id"
            )
            del_keys = (
                ch.filter(F.col("_change_type") == "delete")
                .select("o_orderkey")
                .join(ins.select("o_orderkey"), "o_orderkey", "left_anti")
                .collect()
            )
            if ins.take(1):
                seg = tempfile.mkdtemp()
                ins.coalesce(1).write.mode("overwrite").parquet(seg)
                segs = sorted(str(p) for p in _P(seg).glob("*.parquet"))
                dw.upsert_files_dv(spark, segs, ["o_orderkey"])
                shutil.rmtree(seg, ignore_errors=True)
            if del_keys:
                dw.delete_where(
                    spark,
                    f"o_orderkey in ({','.join(str(int(r.o_orderkey)) for r in del_keys)})",
                )
            return t.current_snapshot_id()

        a = o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 600))
        iw.append(a, timestamp_ms=1000)
        n_a = a.count()
        pos = sync(None, expect_rows=n_a)
        restated = (
            a.filter(F.col("o_orderkey") <= 100)
            .unionByName(
                o.filter((F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 700))
            )
            .withColumn("o_totalprice", F.lit(-1.0))
        )
        iw.upsert(restated, ["o_orderkey"], timestamp_ms=2000)
        # upsert delivers delete preimages for the 100 matched keys +
        # inserts for all 200 batch rows — NOT the 600-row table
        pos = sync(pos, expect_rows=100 + restated.count())
        dead = o.filter((F.col("o_orderkey") >= 200) & (F.col("o_orderkey") <= 250))
        iw2 = IcebergFixtureWriter(f"{tmp}/src")
        iw2.delete_equality(
            [{"o_orderkey": int(r.o_orderkey)} for r in dead.select("o_orderkey").collect()],
            ["o_orderkey"],
            timestamp_ms=3000,
        )
        sync(pos, expect_rows=dead.count())

    tmp = _session_fixture("xfmt_cdc", sf, build)
    return DeltaTable(f"{tmp}/dst").read(spark)


@_register(
    "hudi_mor_change_stream",
    """
    SELECT o_orderkey, o_totalprice, 'upsert' AS _change_type FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, -1.0, 'upsert' FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 20
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS DOUBLE), 'delete' FROM orders
    WHERE o_orderkey BETWEEN 30 AND 40
    """,
)
def hudi_mor_change_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MoR CHANGE STREAM (`hudi_mor.py change_stream`): the log
    blocks ARE the change stream — data blocks replay as upserts,
    delete blocks as tombstones with the record key reconstituted into
    its table column; log files come from the window's commit metadata
    so changes survive compaction supersession (COMPACT itself
    contributes nothing). Third format's row-level CDC, oracled like
    Delta CDF and the Iceberg changelog."""
    from .sources.hudi_mor import HudiMorFixtureWriter, HudiMorTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = HudiMorFixtureWriter(f"{tmp}/t", record_key="o_orderkey", n_buckets=2)
        w.insert(o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 100)))
        w.upsert(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 20)).withColumn(
                "o_totalprice", F.lit(-1.0)
            )
        )
        w.delete(
            o.filter(
                (F.col("o_orderkey") >= 30) & (F.col("o_orderkey") <= 40)
            ).select("o_orderkey")
        )
        w.compact(spark)  # must contribute nothing to the stream

    tmp = _session_fixture("hudi_mor_cs", sf, build)
    return HudiMorTable(f"{tmp}/t").change_stream(spark).select(
        "o_orderkey", "o_totalprice", "_change_type"
    )


@_register(
    "delta_rename_column_scan",
    """
    SELECT o_orderkey, o_totalprice AS price FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 500 AND o_totalprice >= 10000
    """,
)
def delta_rename_column_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Column-mapping RENAME (`delta.py rename_column`): metadata-only
    — the physical parquet names never change — then a deletion-vector
    DELETE predicated on the NEW logical name. The read must resolve
    the renamed schema over the untouched data files and compose with
    the DV; the oracle recomputes relationally under the new name."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t", column_mapping="name")
        w.append(
            o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 500)),
            timestamp_ms=1000,
        )
        w.rename_column("o_totalprice", "price", timestamp_ms=2000)
        w.delete_where(spark, "price < 10000", timestamp_ms=3000)

    tmp = _session_fixture("delta_rename", sf, build)
    return DeltaTable(f"{tmp}/t").read(spark)


@_register(
    "metadata_only_count",
    """
    SELECT 'delta' AS fmt, count(*) AS cnt FROM orders
    WHERE o_orderkey > 100 AND o_orderkey <= 800
    UNION ALL
    SELECT 'iceberg' AS fmt, count(*) - 1 AS cnt FROM orders
    WHERE o_orderkey > 0 AND o_orderkey <= 600
    """,
)
def metadata_only_count(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only COUNT(*) (`iceberg.py metadata_count` / `delta.py
    metadata_count`): the count comes from manifest record_count /
    add-action stats arithmetic with ZERO data files opened — the
    first thing every engine short-circuits on a 100 TB table. Both
    tables carry row-level deletes that must subtract EXACTLY:
    Iceberg positional deletes (one row per (file,pos)) and a Delta
    deletion vector (descriptor cardinality). The query raises if
    either table falls back to a scan, so the oracle match proves the
    metadata arithmetic itself."""
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        iw = IcebergFixtureWriter(f"{tmp}/ice", seed=13)
        for lo, hi, ts in ((0, 200, 1000), (200, 400, 2000), (400, 600, 3000)):
            iw.append(
                o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)),
                timestamp_ms=ts,
            )
        t = IcebergTable(f"{tmp}/ice")
        victim = t.files_for_snapshot(t.current_snapshot_id())[0]
        iw.delete_positions([(victim, 0)], timestamp_ms=4000)

        dw = DeltaFixtureWriter(f"{tmp}/delta")
        for lo, hi, ts in ((0, 400, 1000), (400, 800, 2000)):
            dw.append(
                o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)),
                timestamp_ms=ts,
            )
        dw.delete_where(spark, "o_orderkey <= 100", timestamp_ms=3000)

    tmp = _session_fixture("meta_count", sf, build)
    ice_cnt = IcebergTable(f"{tmp}/ice").metadata_count()
    delta_cnt = DeltaTable(f"{tmp}/delta").metadata_count()
    if ice_cnt is None or delta_cnt is None:
        raise AssertionError("metadata count fell back to scan")
    return spark.createDataFrame(
        [("delta", delta_cnt), ("iceberg", ice_cnt)], "fmt string, cnt long"
    )


@_register(
    "delta_partitioned_scan",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderkey <= 900 AND o_orderstatus = 'F'
      AND NOT (o_orderstatus = 'F' AND o_orderkey <= 100)
    """,
)
def delta_partitioned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """HIVE-PARTITIONED Delta (r7): partition columns live only in
    add.partitionValues + dir names (the protocol's layout — data
    files don't carry them); the reader reconstitutes them with
    declared types under `basePath`, and the scan prunes files from
    partitionValues tri-state BEFORE reading (asserted in-query).
    Composes with deletion vectors: the DV delete below references the
    partition column in its predicate. The oracle recomputes
    filter-minus-delete relationally."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t", partition_by=["o_orderstatus"])
        w.append(o.filter(F.col("o_orderkey") <= 900), timestamp_ms=1000)
        w.delete_where(spark, "o_orderstatus = 'F' AND o_orderkey <= 100", timestamp_ms=2000)

    tmp = _session_fixture("delta_part", sf, build)
    out, plan = DeltaTable(f"{tmp}/t").scan(
        spark, ScanRequest("d_part", predicates=[Col("o_orderstatus") == Lit("F")])
    )
    meta = plan.partitions.meta
    if not (meta["files_pruned"] > 0 and meta["files_kept"] >= 1):
        raise AssertionError(f"delta partition pruning regressed: {meta}")
    return out


@_register(
    "iceberg_schema_evolution",
    """
    SELECT o_orderkey,
           o_totalprice AS price,
           CASE WHEN o_orderkey > 400 THEN 'web' ELSE NULL END AS channel
    FROM orders
    """,
)
def iceberg_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution by field id (`sources/iceberg.py _assemble`):
    commit 1 writes (o_orderkey, o_totalprice); the table then RENAMES
    o_totalprice -> price and ADDS channel; commit 2 writes the new
    shape. The read resolves commit-1 files through their written
    schema — renamed column recovered by field id, added column
    null-filled — so the result equals the plain SQL projection over
    the union (the spec's read-time schema resolution; reference
    negotiates snapshot schemas at
    `crates/cdf-source-iceberg/src/driver.rs:902-1060`)."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=37)
        w.append(
            o.filter(F.col("o_orderkey") <= 400).select("o_orderkey", "o_totalprice"),
            timestamp_ms=1000,
        )
        w.rename_column("o_totalprice", "price")
        w.add_column("channel", "string")
        w.append(
            o.filter(F.col("o_orderkey") > 400).select(
                "o_orderkey",
                F.col("o_totalprice").alias("price"),
                F.lit("web").alias("channel"),
            ),
            timestamp_ms=2000,
        )

    tmp = _session_fixture("ice_evo", sf, build)
    return IcebergTable(f"{tmp}/t").read(spark)


@_register(
    "stream_stream_join_drain",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id, p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    """,
)
def stream_stream_join_drain(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (Structured Streaming's
    symmetric hash join), drained with Trigger.AvailableNow: clicks and
    purchases arrive as two real file streams (maxFilesPerTrigger=1 ->
    multiple genuine micro-batches), joined per user with the
    event-time range constraint `purchase within 4h after the click`.
    The range constraint is what bounds join state at scale — each
    side's state evicts once the other side's watermark passes the
    window. The drain must emit exactly the batch join's matches
    (the oracle); the watermark delay here covers the fixture's whole
    timeline so no match is late-dropped regardless of file arrival
    order — the tight-watermark late-drop semantics are pinned by
    tests/test_streaming.py instead, where arrival order is
    controlled."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _Path

        ev = _t(spark, sf, "events").select(*cols)
        (_Path(tmp) / "in").mkdir()
        for i in range(3):
            stage = tempfile.mkdtemp(prefix="cdf_ssj_part_")
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            shutil.move(str(src), f"{tmp}/in/part-{i}.parquet")
            shutil.rmtree(stage, ignore_errors=True)

        clicks = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "90 days")
        )
        purchases = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("purchase_value"),
            )
            .withWatermark("p_ts", "90 days")
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 4 HOURS")),
            "inner",
        ).select(
            "click_id",
            "purchase_id",
            F.col("c_user").alias("user_id"),
            "purchase_value",
        )
        q = (
            joined.writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("ssj_drain", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        "click_id", "purchase_id", "user_id", "purchase_value"
    )


@_register(
    "stream_dedup_drain",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE event_id IS NOT NULL
    """,
)
def stream_dedup_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING STATEFUL DEDUP under a watermark
    (`dropDuplicatesWithinWatermark` — the exactly-once event-ingest
    pattern a training-data pipeline runs in front of every sink):
    the events table is split into 3 file micro-batches where a dup
    subset (event_id % 10 == 0) rides in EVERY file, so duplicates
    arrive both within a batch and across batches — only keyed state
    can drop the cross-batch repeats. The watermark bounds that state
    at scale: keys older than the delay are evicted instead of held
    forever (the unbounded-state failure mode of plain
    dropDuplicates). Drained with Trigger.AvailableNow; the committed
    table must be EXACTLY one copy of every event — the plain
    relational oracle."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _Path

        ev = _t(spark, sf, "events").select(*cols).filter("event_id IS NOT NULL")
        dups = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 0)
        (_Path(tmp) / "in").mkdir()
        for i in range(3):
            stage = tempfile.mkdtemp(prefix="cdf_sdd_part_")
            part = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).unionByName(dups)
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            shutil.move(str(src), f"{tmp}/in/part-{i}.parquet")
            shutil.rmtree(stage, ignore_errors=True)

        deduped = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
            .withWatermark("ts", "90 days")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = (
            deduped.writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()
        n = spark.read.parquet(f"{tmp}/out").count()
        want = ev.count()
        if n != want:
            raise AssertionError(f"stream dedup kept {n} rows, expected {want}")

    tmp = _session_fixture("stream_dedup", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(*cols)


@_register(
    "streaming_curation_drain",
    """
    WITH f AS (
      SELECT doc_id, lang, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
        CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', '')))
          + (length(text) - length(replace(text, ';', ''))) AS n_punct
      FROM documents
    ), g AS (
      SELECT doc_id, lang, n_tokens,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS atl,
        round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS pr,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS sr
      FROM f
    ), z AS (
      SELECT doc_id, lang,
        -1.5 + CAST(n_tokens AS DOUBLE) * 0.02 + atl * 0.35 + sr * 6.0 + pr * (-4.0) AS z
      FROM g
    )
    SELECT doc_id, lang, round(1.0/(1.0 + exp(-z)), 6) AS clf_score
    FROM z WHERE round(1.0/(1.0 + exp(-z)), 6) >= 0.75
    """,
)
def streaming_curation_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING CURATION — the quality gate + exactly-once dedup a
    training-data pipeline runs in FRONT of the corpus sink, composed
    on a real `readStream` drain: 3 file micro-batches where a
    redelivered subset (doc_id % 10 == 0) rides in EVERY file (the
    at-least-once delivery shape of real ingest), each batch flows
    through the model-based quality classifier (pure narrow arithmetic
    — stream-safe, no shuffle) and then
    `dropDuplicatesWithinWatermark` keyed state drops the cross-batch
    redeliveries while the watermark bounds the state. The committed
    table must be EXACTLY the batch answer — every passing doc once —
    so the plain relational oracle (the same classifier in SQL) value-
    checks the whole streaming composition."""
    from pyspark.sql import types as T

    from .operators.curation import quality_clf_score

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _Path

        docs = _t(spark, sf, "documents").select(
            "doc_id",
            "text",
            "lang",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
        )
        dups = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
        (_Path(tmp) / "in").mkdir()
        for i in range(3):
            stage = tempfile.mkdtemp(prefix="cdf_scd_part_")
            part = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i).unionByName(dups)
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            shutil.move(str(src), f"{tmp}/in/part-{i}.parquet")
            shutil.rmtree(stage, ignore_errors=True)

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        curated = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
            .withColumn("clf_score", quality_clf_score(F.col("text")))
            .filter(F.col("clf_score") >= 0.75)
            .withWatermark("ts", "90 days")
            .dropDuplicatesWithinWatermark(["doc_id"])
            .select("doc_id", "lang", "clf_score")
        )
        q = (
            curated.writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()
        got = spark.read.parquet(f"{tmp}/out").count()
        want = docs.filter(quality_clf_score(F.col("text")) >= 0.75).count()
        if got != want:
            raise AssertionError(
                f"streaming curation kept {got} rows, batch recompute says {want}"
            )

    tmp = _session_fixture("streaming_curation", sf, build)
    return spark.read.parquet(f"{tmp}/out").select("doc_id", "lang", "clf_score")


@_register(
    "stream_drain_equivalence",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE event_id IS NOT NULL
      AND event_type IN ('signup', 'click', 'view', 'purchase')
      AND value >= 0.0 AND value <= 400.0
    """,
)
def stream_drain_equivalence(spark: SparkSession, sf: str) -> DataFrame:
    """Drain/batch equivalence end-to-end on a REAL `readStream`
    (`streaming/pipeline.py`; the reference's Drain extent,
    `crates/cdf-kernel/src/execution_extent.rs:20-33`): the events
    table split into 4 files, drained with Trigger.AvailableNow at
    maxFilesPerTrigger=1 — so ≥2 genuine micro-batch epochs, each one
    contract-evaluate -> package -> ParquetDestination commit ->
    receipt verify -> checkpoint advance. The query returns the FINAL
    COMMITTED table; the oracle recomputes the batch-path result as
    plain SQL over the same rows, so the hash check proves the
    epoch-split append path loses/duplicates nothing vs one batch."""
    from pyspark.sql import types as T

    from .contracts import Contract, DomainRule, RangeRule
    from .package.ledger import ParquetDestination
    from .sources.base import ResourceDescriptor, WriteDisposition
    from .streaming.pipeline import StreamingLoadPipeline

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _Path

        ev = _t(spark, sf, "events").select(*cols)
        (_Path(tmp) / "in").mkdir()
        for i in range(4):
            stage = tempfile.mkdtemp(prefix="cdf_stream_part_")
            ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            shutil.move(str(src), f"{tmp}/in/part-{i}.parquet")
            shutil.rmtree(stage, ignore_errors=True)
        pipe = StreamingLoadPipeline(
            descriptor=ResourceDescriptor(resource_id="events_stream"),
            source_path=f"{tmp}/in",
            schema=schema,
            contract=Contract(
                rules=[
                    DomainRule("event_type", ["signup", "click", "view", "purchase"]),
                    RangeRule("value", min=0.0, max=400.0),
                ]
            ),
            package_root=f"{tmp}/pkgs",
            ledger_root=f"{tmp}/ledger",
            destination=ParquetDestination(f"{tmp}/dest"),
            disposition=WriteDisposition.APPEND,
            reader_options={"maxFilesPerTrigger": 1},
        )
        epochs = pipe.run(spark)
        if len(epochs) < 2:
            raise AssertionError(f"drain ran in {len(epochs)} epoch(s) — not a multi-epoch drain")
        if not all(e.receipt_verified for e in epochs if e.rows_admitted > 0):
            raise AssertionError("an epoch's commit receipt failed verification")

    tmp = _session_fixture("stream_drain", sf, build)
    return spark.read.parquet(f"{tmp}/dest").select(*cols)


@_register(
    "resident_restart_stream",
    """
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def resident_restart_stream(spark: SparkSession, sf: str) -> DataFrame:
    """RESIDENT extent proven end-to-end WITH a restart
    (`streaming/pipeline.py` Trigger.ProcessingTime; the reference's
    Resident extent + drain-epoch controller,
    `crates/cdf-runtime/src/drain_epoch.rs:1-1258`): a live
    processingTime stream consumes two file batches and is STOPPED;
    more data lands while it is down; a FRESH pipeline object (what a
    new driver process would build) restarts from the same Spark
    checkpoint and processes ONLY the while-down files — asserted in
    the fixture build, so reprocessing or loss fails the build. The
    query returns the final committed table; the oracle recomputes it
    as plain SQL over the same rows, so the value-hash check proves
    exactly-once delivery across the restart."""
    import time as _time

    from pyspark.sql import types as T

    from .package.ledger import ParquetDestination
    from .sources.base import ResourceDescriptor, WriteDisposition
    from .streaming.epochs import StreamExtent
    from .streaming.pipeline import StreamingLoadPipeline

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _Path

        ev = _t(spark, sf, "events").select(*cols)
        (_Path(tmp) / "in").mkdir()

        def _land(i: int) -> int:
            part = ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
            stage = tempfile.mkdtemp(prefix="cdf_resident_part_")
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            # resident file discovery lists only FLAT files — land the
            # part file itself in the watched dir
            shutil.move(str(src), f"{tmp}/in/part-{i}.parquet")
            shutil.rmtree(stage, ignore_errors=True)
            return part.count()

        def _pipe() -> StreamingLoadPipeline:
            return StreamingLoadPipeline(
                descriptor=ResourceDescriptor(resource_id="resident_events"),
                source_path=f"{tmp}/in",
                schema=schema,
                package_root=f"{tmp}/pkgs",
                ledger_root=f"{tmp}/ledger",
                destination=ParquetDestination(f"{tmp}/dest"),
                disposition=WriteDisposition.APPEND,
                extent=StreamExtent.RESIDENT,
                trigger_interval="1 seconds",
            )

        def _run_until(pipe: StreamingLoadPipeline, expect_rows: int) -> None:
            q = pipe.run(spark)
            try:
                deadline = _time.time() + 180
                while (
                    sum(e.rows_admitted for e in pipe.epochs) < expect_rows
                    and _time.time() < deadline
                ):
                    _time.sleep(0.5)
            finally:
                q.stop()
                q.awaitTermination()
            got = sum(e.rows_admitted for e in pipe.epochs)
            if got != expect_rows:
                raise AssertionError(
                    f"resident run admitted {got} rows, expected {expect_rows} "
                    "— restart reprocessed or lost data"
                )

        n_first = _land(0) + _land(1)
        _run_until(_pipe(), n_first)  # live run, then the kill
        n_second = _land(2) + _land(3)  # lands while the stream is DOWN
        _run_until(_pipe(), n_second)  # fresh pipeline, same checkpoint

    tmp = _session_fixture("resident_restart", sf, build)
    return spark.read.parquet(f"{tmp}/dest").select(*cols)


# Parity twins: oracle-verifiable formulations whose PLANS are
# deliberately weak — BNLJ brute force (cosine_topk, the exact
# near-dup verifiers) or an unrolled Lloyd iteration in one plan
# (ivf_kmeans_topk, 15 shuffles). They exist to value-check the
# deploy paths (`cosine_topk_fast`, `ivf_ann_topk_fast`, the LSH
# variants) against DuckDB at fixture scale, are capped to broadcast
# scale by documented contract, and must never be benchmarked or
# deployed as the engine's similarity surface. bench.py's headline
# set runs only deploy paths.
PARITY_TWINS: set[str] = {
    "cosine_topk",  # BNLJ brute force; deploy: cosine_topk_fast
    "ivf_kmeans_topk",  # unrolled Lloyd, 15 shuffles; deploy: ivf_ann_topk_fast
    "ngram_jaccard_dups",  # O(sum bucket^2) exact verifier; deploy: ngram_jaccard_dups_fast (prefix-filtered, same exact output)
    "embedding_near_dups",  # exact crossJoin verifier; deploy: embedding_near_dups_lsh_fast
    "pq_ann_topk",  # recon cross-join scores every (q, vec) pair JVM-side; deploy: pq_ann_topk_fast (ADC table lookups)
}

# The driver's CORRECTNESS gate verifies the FIRST 50 registry entries
# each round. Registration order is module-definition order, so newly
# added operators would land BEHIND the window and never earn a driver
# row. The window is therefore a pure LEAST-RECENTLY-DRIVER-GREEN sort,
# recomputed each round from the CORRECTNESS_r*.json history: ordering
# is (never-driver-green first, then ascending last-green round, then
# registration order within a cohort), truncated at the driver's 50.
# r14 rebuild: 3 never-driver-green head entries (this round's
# additions: sliding windows, per-stratum PSI, the unigram-LM
# tokenizer — the round's new-query budget was sized to exactly the
# spare slots) + the ENTIRE 47-query r7-stale cohort in registration
# order (the last staleness debt the r13 verdict ordered burned —
# after this window lands, no query's last driver-green round is
# older than r9 and the never-green head stays empty).
_DRIVER_WINDOW_PRIORITY: list[str] = [
    # -- never driver-green: the r14 additions --
    "sliding_window_agg",
    "psi_drift_by_source",
    "unigram_lm_tokenizer",
    # -- the full r7-stale cohort (registration order) --
    "q6_forecast_revenue",
    "window_running_total",
    "topk_per_group",
    "agg_rollup",
    "set_ops_except",
    "distinct_agg",
    "sessionization",
    "tumbling_window_agg",
    "pivot_event_types",
    "json_extract_props",
    "asof_join_events_orders",
    "scan_pushdown_residual",
    "projection_pruning",
    "contract_quarantine_rows",
    "transform_chain",
    "dedup_keep_last",
    "dedup_keep_first",
    "keyed_effects_reduce",
    "effects_apply_merge",
    "late_data_classify",
    "stratified_sample",
    "incremental_cursor_scan",
    "docs_profile",
    "docs_quality_lang",
    "doc_chunking_rag",
    "ngram_jaccard_dups_fast",
    "iceberg_dest_partitioned_upsert",
    "hudi_mor_partitioned_scan",
    "delta_dest_merge_dv",
    "cross_format_replication",
    "delta_column_mapping_scan",
    "iceberg_binpack_maintenance",
    "delta_optimize_maintenance",
    "iceberg_sorted_layout_scan",
    "iceberg_zorder_layout_scan",
    "delta_data_skipping_scan",
    "delta_dest_partitioned_merge_dv",
    "recovery_rollback_restore",
    "delta_change_data_feed",
    "iceberg_changelog_scan",
    "cross_format_cdc_replication",
    "hudi_mor_change_stream",
    "delta_rename_column_scan",
    "metadata_only_count",
    "delta_partitioned_scan",
    "stream_stream_join_drain",
    "pq_ann_topk",
]



def _rotated(d: dict) -> dict:
    head = {k: d[k] for k in _DRIVER_WINDOW_PRIORITY if k in d}
    return {**head, **{k: v for k, v in d.items() if k not in head}}


def queries() -> dict[str, QueryFn]:
    return _rotated(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _rotated(ORACLES)


# ---------------------------------------------------------------------------
# Relational surface, second wave: semi/anti joins, HAVING, argmin,
# distributions, complex filters, set ops, percentiles, variant capture
# ---------------------------------------------------------------------------


@_register(
    "q4_order_priority_semijoin",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = _t(spark, sf, "lineitem")
    matched = o.join(
        l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi"
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@_register(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY c_count
    """,
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "q18_large_volume_having",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_custkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150
    """,
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    agg = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("_q"))
    )
    return agg.filter(F.col("_q") > 150).select(
        "o_orderkey", "o_custkey", F.col("_q").cast("double").alias("total_qty")
    )


@_register(
    "q19_disjunctive_filter",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    j = l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "argmin_cheapest_supplier",
    """
    SELECT s_nationkey, s_suppkey, s_acctbal FROM (
      SELECT s_nationkey, s_suppkey, s_acctbal,
             row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
      FROM supplier
    ) WHERE rn = 1
    """,
)
def argmin_cheapest_supplier(spark: SparkSession, sf: str) -> DataFrame:
    s = _t(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey").asc())
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_nationkey", "s_suppkey", "s_acctbal")
    )


@_register(
    "anti_join_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'F' AND o_totalprice > 150000)
    """,
)
def anti_join_no_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Customers with no finalized high-value order. The inner predicate
    exists so the result is NON-EMPTY at every test sf (the bare
    "customers without any orders" variant returns 0 rows under this
    generator — a vacuous green that tests nothing)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_register(
    "set_ops_intersect",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_ops_intersect(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@_register(
    "union_all_sources",
    """
    SELECT 'high' AS tier, o_orderkey FROM orders WHERE o_totalprice > 300000
    UNION ALL
    SELECT 'low' AS tier, o_orderkey FROM orders WHERE o_totalprice < 10000
    """,
)
def union_all_sources(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    hi = o.filter(F.col("o_totalprice") > 300000).select(F.lit("high").alias("tier"), "o_orderkey")
    lo = o.filter(F.col("o_totalprice") < 10000).select(F.lit("low").alias("tier"), "o_orderkey")
    return hi.unionAll(lo)


@_register(
    "percentiles_exact",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentiles_exact(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
    )


@_register(
    "cube_agg",
    """
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
    FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
)
def cube_agg(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    return c.cube("c_mktsegment", "c_nationkey").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "lag_lead_price_delta",
    """
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice - lag(o_totalprice) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS delta_prev
    FROM orders WHERE o_custkey < 50
    """,
)
def lag_lead_price_delta(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).cast("double").alias("delta_prev"),
    )


@_register(
    "variant_capture_json",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n
    FROM events
    WHERE json_valid(props)
    GROUP BY 1 HAVING COUNT(*) > 10
    """,
)
def variant_capture_json(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    parsed = e.select(F.get_json_object("props", "$.k").cast("bigint").alias("k"))
    return (
        parsed.filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 10)
    )


# ---------------------------------------------------------------------------
# Training-data curation composites
# ---------------------------------------------------------------------------

_CURATION_ORACLE = """
WITH f AS (
  SELECT doc_id, text, lang,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
         CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
           + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop
  FROM documents
),
feats AS (
  SELECT doc_id, lang,
         round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS avg_token_len,
         round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
         n_chars
  FROM f
),
scored AS (
  SELECT doc_id, lang,
         round(
           (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN stopword_ratio >= 0.01 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN avg_token_len BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END), 2) AS quality
  FROM feats
),
sh AS (
  SELECT doc_id, list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)]) AS s
  FROM documents
),
ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
pairs AS (
  SELECT a.doc_id ia, b.doc_id ib, a.sz sa, b.sz sb, count(*) inter
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1,2,3,4
),
dup_b AS (
  SELECT DISTINCT ib AS doc_id FROM pairs WHERE inter::DOUBLE / (sa + sb - inter) >= 0.8
)
SELECT s.doc_id, s.lang, s.quality
FROM scored s
WHERE s.quality >= 0.7 AND s.doc_id NOT IN (SELECT doc_id FROM dup_b)
"""


@_register("curation_pipeline", _CURATION_ORACLE)
def curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-gate + near-dup-drop curation: the composite a training
    pipeline runs before tokenization. Near-dup policy: of every
    jaccard>=0.8 pair, the higher doc_id is dropped (canonical keeper
    is the min side)."""
    from .operators.text import quality_score

    docs = _t(spark, sf, "documents")
    scored = docs.select("doc_id", "lang", quality_score(F.col("text")).alias("quality"))
    dup_b = (
        ngram_jaccard_pairs(docs, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        scored.filter(F.col("quality") >= 0.7)
        .join(dup_b, on="doc_id", how="left_anti")
        .select("doc_id", "lang", "quality")
    )


@_register(
    "docs_embeddings_join",
    """
    SELECT d.lang, e.label, COUNT(*) AS n, CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang, e.label
    """,
)
def docs_embeddings_join(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    e = _t(spark, sf, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang", "label")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").cast("bigint").alias("total_chars"))
    )


@_register(
    "events_user_rollup",
    """
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def events_user_rollup(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@_register(
    "late_counts_by_type",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 72 HOUR AS w FROM events)
    SELECT event_type,
           COUNT(*) FILTER (ts <= (SELECT w FROM wm)) AS n_late,
           COUNT(*) FILTER (ts > (SELECT w FROM wm)) AS n_on_time
    FROM events GROUP BY event_type
    """,
)
def late_counts_by_type(spark: SparkSession, sf: str) -> DataFrame:
    e = _events(spark, sf)
    wm = e.agg((F.max("ts") - F.expr("INTERVAL 72 HOURS")).alias("_cdf_wm"))
    split = classify_late_data(e.crossJoin(F.broadcast(wm)), "ts", F.col("_cdf_wm"), action="annotate")
    return split.admitted_annotated.groupBy("event_type").agg(
        F.count(F.when(F.col("_cdf_late"), 1)).alias("n_late"),
        F.count(F.when(~F.col("_cdf_late"), 1)).alias("n_on_time"),
    )


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         [CAST(('0x'||substr(md5(t),1,15)) AS BIGINT)
          for t in list_filter(string_split(text, ' '), t -> len(t) > 0)] AS hs
  FROM documents
),
sig AS (
  SELECT doc_id,
         list_sum([CASE WHEN coalesce(list_sum(
             [CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END for h in hs]), 0) > 0
           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END for i in range(0, 60)]) AS sh
  FROM toks
),
bands AS (
  SELECT doc_id, sh, unnest(range(0, 4)) AS band,
         (sh >> (unnest(range(0, 4)) * 15)) & 32767 AS bh
  FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


@_register("simhash_dups", _SIMHASH_ORACLE)
def simhash_dups(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dups on the md5 SQL-parity hash path — exact-oracled.
    The xxhash64/numpy hybrid lives in BENCH_ONLY as simhash_dups_fast."""
    out = simhash_pairs(_t(spark, sf, "documents"), max_hamming=3, hash_fn="md5")
    return out.withColumn("hamming", F.col("hamming").cast("int"))


_ANN_ORACLE = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
sig AS (
  SELECT vec_id, e,
    list_sum([CASE WHEN
        list_sum([e[d+1] * ((CAST(('0x'||substr(md5(CAST(b AS VARCHAR)||':'||CAST(d AS VARCHAR)),1,15)) AS BIGINT) % 10000)/5000.0 - 1.0)
                  for d in range(0, 64)]) > 0
      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END for b in range(0, 32)]) AS s
  FROM c
),
bands AS (
  SELECT vec_id, e, unnest(range(0, 16)) AS band,
         (s >> (unnest(range(0, 16)) * 2)) & 3 AS bh
  FROM sig
),
qb AS (SELECT vec_id AS query_id, e AS qe, band, bh FROM bands WHERE vec_id < 20),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id, q.qe, b.e
  FROM bands b JOIN qb q ON b.band = q.band AND b.bh = q.bh AND b.vec_id != q.query_id
),
scored AS (
  SELECT query_id, neighbor_id, round(list_cosine_similarity(qe, e), 4) AS sim
  FROM cand
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""

ORACLES["ann_lsh_topk"] = _ANN_ORACLE


_IVF_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
assigned AS (
  SELECT id, cluster FROM (
    SELECT c.vec_id AS id, cents.cid AS cluster,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
    FROM c CROSS JOIN cents) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
probes AS (
  SELECT qid, cluster FROM (
    SELECT q.qid, cents.cid AS cluster,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
    FROM q CROSS JOIN cents) WHERE rn <= 8
),
cand AS (
  SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
  WHERE a.id != p.qid
),
scored AS (
  SELECT cand.qid AS query_id, cand.id AS neighbor_id,
         round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
  FROM cand JOIN c qc ON qc.vec_id = cand.qid JOIN c cc ON cc.vec_id = cand.id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


_IVF_KMEANS_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (SELECT * FROM c WHERE vec_id % 3 = 0),
c0 AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
a1 AS (
  SELECT id, e, cluster FROM (
    SELECT s.vec_id AS id, s.e, c0.cid AS cluster,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY round(list_cosine_similarity(s.e, c0.ce), 4) DESC, c0.cid ASC) AS rn
    FROM s CROSS JOIN c0) WHERE rn = 1
),
comp AS (
  SELECT cluster, pos, CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)/COUNT(*) AS comp
  FROM (SELECT cluster, unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM a1)
  GROUP BY 1, 2
),
c1 AS (SELECT cluster AS cid, list(comp ORDER BY pos) AS ce FROM comp GROUP BY cluster),
a2 AS (
  SELECT id, e, cluster FROM (
    SELECT s.vec_id AS id, s.e, c1.cid AS cluster,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY round(list_cosine_similarity(s.e, c1.ce), 4) DESC, c1.cid ASC) AS rn
    FROM s CROSS JOIN c1) WHERE rn = 1
),
comp2 AS (
  SELECT cluster, pos, CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)/COUNT(*) AS comp
  FROM (SELECT cluster, unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM a2)
  GROUP BY 1, 2
),
c2 AS (SELECT cluster AS cid, list(comp ORDER BY pos) AS ce FROM comp2 GROUP BY cluster),
assigned AS (
  SELECT id, cluster FROM (
    SELECT c.vec_id AS id, c2.cid AS cluster,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_cosine_similarity(c.e, c2.ce), 4) DESC, c2.cid ASC) AS rn
    FROM c CROSS JOIN c2) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
probes AS (
  SELECT qid, cluster FROM (
    SELECT q.qid, c2.cid AS cluster,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qe, c2.ce), 4) DESC, c2.cid ASC) AS rn
    FROM q CROSS JOIN c2) WHERE rn <= 8
),
cand AS (
  SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
  WHERE a.id != p.qid
),
scored AS (
  SELECT cand.qid AS query_id, cand.id AS neighbor_id,
         round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
  FROM cand JOIN c qc ON qc.vec_id = cand.qid JOIN c cc ON cc.vec_id = cand.id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


@_register("ivf_kmeans_topk", _IVF_KMEANS_ORACLE)
def ivf_kmeans_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN whose centroids are Lloyd-refined (TWO iterations over a
    deterministic 1-in-3 training sample) — the k-means itself is
    value-verified in SQL: decimal-exact component means make the
    refined centroids bit-identical across engines. iters=2 also proves
    the per-iteration localCheckpoint truncation preserves values (the
    second iteration builds on a materialized, lineage-free first)."""
    from .operators.similarity import ivf_kmeans_topk

    emb = _t(spark, sf, "embeddings")
    return ivf_kmeans_topk(
        emb, emb.filter("vec_id < 20"), k=10, nprobe=8,
        centroid_modulus=50, sample_modulus=3, iters=2,
    )


@_register("ivf_ann_topk", _IVF_ORACLE)
def ivf_ann_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with deterministic sampled centroids — exactly
    SQL-reproducible end to end (sampling, assignment, probe,
    re-score), so the gate verifies an ANN index value-for-value."""
    emb = _t(spark, sf, "embeddings")
    return ivf_ann_topk(emb, emb.filter("vec_id < 20"), k=10, nprobe=8, centroid_modulus=50)


@_register(
    "ann_index_incremental",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 30 = 0),
    assigned AS (
      SELECT id, cluster FROM (
        SELECT c.vec_id AS id, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
    probes AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, cents.cid AS cluster,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
      WHERE a.id != p.qid
    ),
    scored AS (
      SELECT cand.qid AS query_id, cand.id AS neighbor_id,
             round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
      FROM cand JOIN c qc ON qc.vec_id = cand.qid JOIN c cc ON cc.vec_id = cand.id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ann_index_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted INCREMENTAL ANN index (r12,
    `operators/similarity.IVFIndex`) — the similarity member of the
    incremental-index family (NBIndex, LMIndex, ExactSubstrIndex,
    MinHashLSHIndex): centroids FROZEN at build() (the deterministic
    id-modulus sample over the seed batch, so the whole lifecycle is
    SQL-verifiable), postings appended per fold with a crash-safe
    atomic meta swap, probes with NO rebuild. Because per-row
    assignment against frozen centroids is independent of batching,
    the three-fold index probe below is bit-identical to a one-shot
    `ivf_assign` over the full corpus with the same centroids — the
    exact shape the oracle computes. The fixture also proves the
    at-least-once replay fence (re-folding an already-counted epoch
    is a no-op). Seed = vec_id%3=0, so centroid eligibility
    (seed AND id%10=0) is vec_id%30=0 in the oracle."""
    from .operators.similarity import IVFIndex

    emb = _t(spark, sf, "embeddings")

    def build(tmp: str) -> None:
        idx = IVFIndex(f"{tmp}/ivf")
        idx.build(spark, emb.filter("vec_id % 3 = 0"), centroid_modulus=10, epoch=0)
        idx.add(spark, emb.filter("vec_id % 3 = 1"), epoch=1)
        m2 = idx.add(spark, emb.filter("vec_id % 3 = 2"), epoch=2)
        replay = idx.add(spark, emb.filter("vec_id % 3 = 2"), epoch=2)
        if replay != m2:
            raise AssertionError("replayed fold must be a fenced no-op")
        if m2["n_rows"] != emb.count():
            raise AssertionError(f"folded rows diverge: {m2}")

    tmp = _session_fixture("ann_ivf_index", sf, build)
    return IVFIndex(f"{tmp}/ivf").query(
        spark, emb.filter("vec_id < 20"), k=10, nprobe=4
    )


@_register(
    "streaming_ann_index_drain",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id < 166 AND vec_id % 10 = 0),
    ep AS (SELECT 1 AS epoch, 166 AS lo, 333 AS hi
           UNION ALL SELECT 2, 333, 10000000),
    assigned AS (
      SELECT id, cluster FROM (
        SELECT c.vec_id AS id, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) WHERE rn = 1
    ),
    q AS (SELECT ep.epoch, ep.lo, c.vec_id AS qid, c.e AS qe
          FROM c JOIN ep ON c.vec_id >= ep.lo AND c.vec_id < ep.hi),
    probes AS (
      SELECT epoch, lo, qid, cluster FROM (
        SELECT q.epoch, q.lo, q.qid, cents.cid AS cluster,
               row_number() OVER (PARTITION BY q.epoch, q.qid
                 ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.epoch, p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
      WHERE a.id < p.lo
    ),
    scored AS (
      SELECT cand.epoch, cand.qid AS query_id, cand.id AS neighbor_id,
             round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
      FROM cand JOIN c qc ON qc.vec_id = cand.qid JOIN c cc ON cc.vec_id = cand.id
    ),
    ranked AS (
      SELECT epoch, query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY epoch, query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, query_id, neighbor_id, sim, rank
    FROM ranked WHERE rank <= 3
    """,
)
def streaming_ann_index_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING online similarity lookup (r12) — the shape a
    continuously-growing embedding store actually runs: a real
    readStream drain where every micro-batch (a) probes the persisted
    `IVFIndex` built from everything ingested BEFORE it (the online
    near-dup / retrieval lookup; epoch 0 has no index yet and only
    builds), then (b) folds its own vectors in (O(batch) assignment
    against the frozen broadcast centroids — the corpus never
    re-indexes). foreachBatch is AT-LEAST-ONCE: probe results land in
    per-epoch overwrite dirs (idempotent) and the fold carries the
    IVFIndex epoch fence; BOTH side effects skip on a redelivery
    after the fold landed — re-probing against an index that now
    contains the epoch's own vectors would return different
    neighbors. The oracle replays both scored epochs' probes with the
    prior-ingest corpus cut (a.id < epoch lo) — any stale index read,
    double fold, or fence miss changes the neighbor sets and
    hash-mismatches."""
    from .operators.similarity import IVFIndex

    def build(tmp: str) -> None:
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(_NB_BOUNDS):
            stage = tempfile.mkdtemp(prefix="cdf_sann_part_")
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(stage, ignore_errors=True)

        idx = IVFIndex(f"{tmp}/ivf")

        def handle(batch_df, epoch_id: int) -> None:
            meta = idx._meta()
            if meta is not None and int(epoch_id) <= meta.get("last_epoch", -1):
                return  # fully-processed epoch redelivered
            if meta is None:
                idx.build(spark, batch_df, centroid_modulus=10, epoch=int(epoch_id))
                return
            (
                idx.query(spark, batch_df, k=3, nprobe=4)
                .write.mode("overwrite")
                .parquet(f"{tmp}/out/epoch={epoch_id}")
            )
            idx.add(spark, batch_df, epoch=int(epoch_id))

        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_ann_index", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        F.col("epoch").cast("long").alias("epoch"),
        "query_id",
        "neighbor_id",
        "sim",
        "rank",
    )


_PQ_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cb AS (SELECT row_number() OVER (ORDER BY vec_id) AS cidx, e AS ce FROM c WHERE vec_id % 10 = 0),
dists AS (
  SELECT c.vec_id AS id, cb.cidx, s.sub,
         round(list_sum(list_transform(range(1, 9),
            i -> (c.e[s.sub*8 + i] - cb.ce[s.sub*8 + i])^2)), 6) AS dist
  FROM c CROSS JOIN cb CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s
),
codes AS (
  SELECT id, sub, cidx FROM (
    SELECT id, sub, cidx,
           row_number() OVER (PARTITION BY id, sub ORDER BY dist ASC, cidx ASC) AS rn
    FROM dists) WHERE rn = 1
),
recon AS (
  SELECT codes.id,
         flatten(list(cb.ce[codes.sub*8 + 1 : codes.sub*8 + 8] ORDER BY codes.sub)) AS r
  FROM codes JOIN cb ON cb.cidx = codes.cidx GROUP BY codes.id
),
q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
approx AS (
  SELECT q.qid, recon.id, round(list_cosine_similarity(q.qe, recon.r), 4) AS asim
  FROM q CROSS JOIN recon WHERE recon.id != q.qid
),
short AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY asim DESC, id ASC) AS ar
    FROM approx) WHERE ar <= 100
),
scored AS (
  SELECT s.qid AS query_id, s.id AS neighbor_id,
         round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
  FROM short s JOIN c qc ON qc.vec_id = s.qid JOIN c cc ON cc.vec_id = s.id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= 10
"""


@_register("pq_ann_topk", _PQ_ORACLE)
def pq_ann_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN with deterministic sampled codebooks —
    the whole pipeline (codebook, per-subspace argmin encoding,
    reconstruction, shortlist, exact re-score) reproduced in ANSI SQL,
    so the gate value-verifies a PQ index end to end. The ADC deploy
    path lives in BENCH_ONLY as pq_ann_topk_fast."""
    from .operators.similarity import pq_ann_topk

    emb = _t(spark, sf, "embeddings")
    return pq_ann_topk(emb, emb.filter("vec_id < 20"), k=10, m=8, cb_modulus=10, shortlist=10)


_MINHASH_ORACLE = """
WITH grams AS (
  SELECT doc_id, text,
         [substr(text, p, 5) for p in range(1, greatest(length(text) - 4, 0) + 1)] AS gs
  FROM documents
),
sig AS (
  SELECT doc_id, text,
         [list_min([CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||':'||g),1,15)) AS BIGINT) for g in gs])
          for i in range(0, 32)] AS s
  FROM grams WHERE len(gs) >= 1
),
bands AS (
  SELECT doc_id, text, unnest(range(0, 8)) AS band,
         array_to_string(s[unnest(range(0, 8)) * 4 + 1 : unnest(range(0, 8)) * 4 + 4], '|') AS bh
  FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
         list_distinct([substr(ta, p, 5) for p in range(1, length(ta) - 3)]) AS sa,
         list_distinct([substr(tb, p, 5) for p in range(1, length(tb) - 3)]) AS sb
  FROM cand
),
jac AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
  FROM verified
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8
"""


@_register("minhash_lsh_dups", _MINHASH_ORACLE)
def minhash_lsh_dups(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH on the md5 SQL-parity permutations, no bucket cap —
    exact-oracled.  The xxhash64 fast path lives in BENCH_ONLY as
    minhash_lsh_dups_fast."""
    return minhash_lsh_pairs(
        _t(spark, sf, "documents"), threshold=0.8, bucket_cap=None, hash_fn="md5"
    )


_MINHASH_INCR_ORACLE = """
WITH grams AS (
  SELECT doc_id, text,
         [substr(text, p, 5) for p in range(1, greatest(length(text) - 4, 0) + 1)] AS gs
  FROM documents
),
sig AS (
  SELECT doc_id, text,
         [list_min([CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||':'||g),1,15)) AS BIGINT) for g in gs])
          for i in range(0, 32)] AS s
  FROM grams WHERE len(gs) >= 1
),
bands AS (
  SELECT doc_id, text, unnest(range(0, 8)) AS band,
         array_to_string(s[unnest(range(0, 8)) * 4 + 1 : unnest(range(0, 8)) * 4 + 4], '|') AS bh
  FROM sig
),
cand AS (
  SELECT DISTINCT b.doc_id AS id_batch, c.doc_id AS id_corpus, b.text AS tb, c.text AS tc
  FROM bands c JOIN bands b ON c.band = b.band AND c.bh = b.bh AND c.doc_id <> b.doc_id
  WHERE c.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
),
verified AS (
  SELECT id_batch, id_corpus,
         list_distinct([substr(tb, p, 5) for p in range(1, length(tb) - 3)]) AS sb,
         list_distinct([substr(tc, p, 5) for p in range(1, length(tc) - 3)]) AS sc
  FROM cand
),
jac AS (
  SELECT id_batch, id_corpus,
         round(CAST(len(list_intersect(sb, sc)) AS DOUBLE)
               / (len(sb) + len(sc) - len(list_intersect(sb, sc))), 6) AS jaccard
  FROM verified
)
SELECT id_batch, id_corpus, jaccard FROM jac WHERE jaccard >= 0.6
"""


@_register("minhash_index_incremental", _MINHASH_INCR_ORACLE)
def minhash_index_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL near-dup against a PERSISTED LSH index
    (`dedup_approx.MinHashLSHIndex`): the corpus (doc_id % 5 != 0) is
    indexed once — half at build, half through the `add()` ingest path
    — then the new batch (doc_id % 5 == 0) probes the stored band
    buckets and verifies exact Jaccard against the stored shingle
    sets. O(batch x collisions): the corpus is never self-joined
    again, which is the entire economics of continuously deduping a
    growing 100 TB corpus. md5 SQL-parity hashing end-to-end, so the
    oracle reproduces build+probe verbatim."""
    from .operators.dedup_approx import MinHashLSHIndex

    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)

    def build(tmp: str) -> None:
        idx = MinHashLSHIndex(f"{tmp}/idx")
        idx.build(corpus.filter(F.col("doc_id") % 2 == 1), hash_fn="md5")
        idx.add(corpus.filter(F.col("doc_id") % 2 == 0))  # incremental ingest

    tmp = _session_fixture("minhash_idx", sf, build)
    return MinHashLSHIndex(f"{tmp}/idx").query(
        spark, batch, threshold=0.6, bucket_cap=None
    )


@_register(
    "session_window_agg",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def session_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Spark's native session_window (30-minute gap) in batch mode —
    the oracle reproduces the merge semantics with lag/cumsum session
    assignment (session end = last event + gap)."""
    e = _events(spark, sf)
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@_register(
    "q12_shipmode_priority",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@_register(
    "q14_promo_effect",
    """
    SELECT CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part")
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0))
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).agg(
        F.sum(_dec(promo)).cast("double").alias("promo_revenue"),
        _dsum(rev).alias("total_revenue"),
    )


@_register(
    "q17_small_quantity_avg",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery expressed as an aggregate join (the
    decorrelation Catalyst would do): per-part exact avg quantity,
    filter below 20% of it."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#1")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(per_part, l.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "moving_average_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
    FROM orders WHERE o_custkey < 30
    """,
)
def moving_average_frame(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") < 30)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("ma3"),
    )


# Bench-only: the LSH-prefiltered scale path for embedding near-dups.
# Approximate by construction (recall measured against the exact twin in
# tests/test_lsh_recall.py), so it carries no SQL oracle and stays out
# of the QUERIES registry.
def embedding_near_dups_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_near_dup_pairs(_t(spark, sf, "embeddings"), threshold=0.95, method="lsh")


# Bench-only numpy/Arrow twins of the embedding operators: identical
# algorithm and plan shape, arithmetic in vectorized batch kernels
# (GEMM signatures, einsum re-score) instead of interpreted HOF folds.
# Float summation order differs, so they are benched, not oracled; the
# HOF originals above remain the correctness witnesses.
def cosine_topk_fast_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    return cosine_topk_fast(emb, emb.filter("vec_id < 20"), k=10)


def ann_lsh_topk_fast_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    return rhp_lsh_topk_fast(emb, emb.filter("vec_id < 20"), k=10, bits=32, band_bits=2)


def embedding_near_dups_lsh_fast(spark: SparkSession, sf: str) -> DataFrame:
    return embedding_near_dup_pairs_fast(_t(spark, sf, "embeddings"), threshold=0.95)


def ivf_ann_topk_fast_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    return ivf_ann_topk_fast(emb, emb.filter("vec_id < 20"), k=10, nprobe=8, centroid_modulus=50)


def pq_ann_topk_fast_q(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import pq_ann_topk_fast

    emb = _t(spark, sf, "embeddings")
    return pq_ann_topk_fast(emb, emb.filter("vec_id < 20"), k=10, m=8, cb_modulus=10, shortlist=10)


@_register(
    "q22_global_sales_opportunity",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey
    """,
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar subquery (global avg of positive balances) + anti join
    (customers without orders) + aggregation."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1))).alias("_cdf_a")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_cdf_a"))
        .drop("_cdf_a")
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@_register(
    "tfidf_top_terms",
    """
    WITH terms AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df_t.df), 6) AS tfidf
      FROM tf JOIN df_t ON tf.term = df_t.term
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored
    )
    SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), top_k=3)


@_register(
    "near_dup_clusters",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)]) AS s
      FROM documents
    ),
    ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
    p AS (
      SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, b.sz sb, count(*) inter
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1,2,3,4
    ),
    pairs AS (
      SELECT id_a, id_b FROM p WHERE inter::DOUBLE / (sa + sb - inter) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster
    FROM walk GROUP BY id
    """,
)
def near_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster assignment over jaccard>=0.8 near-dup pairs: iterative
    min-label propagation on Spark vs a recursive CTE in the oracle."""
    from .operators.dedup_approx import dedup_clusters

    docs = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).select("id_a", "id_b")
    return dedup_clusters(docs.select("doc_id"), pairs)


# ---------------------------------------------------------------------------
# TPC-H breadth (round 2): the remaining classic shapes, adapted to the
# trimmed schema (no partsupp table — the part<->supplier relation is
# derived from lineitem history, which preserves each query's *shape*:
# correlated mins, scalar-subquery thresholds, exists/not-exists pairs).


@_register(
    "q2_min_unit_price_supplier",
    """
    WITH link AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             min(l_extendedprice / l_quantity) AS unit_price
      FROM lineitem GROUP BY 1, 2
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p_partkey, s_name, s_acctbal, n_name, unit_price,
             min(unit_price) OVER (PARTITION BY p_partkey) AS min_up
      FROM link JOIN eu ON sk = s_suppkey JOIN part ON pk = p_partkey
      WHERE p_size = 15
    )
    SELECT p_partkey, s_name, s_acctbal, n_name, unit_price
    FROM cand WHERE unit_price = min_up
    ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100
    """,
)
def q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier in a region. The
    correlated MIN subquery is decorrelated into a partition window —
    the plan Catalyst's subquery rewrite would produce. Unit price is
    derived from lineitem history (no partsupp in this schema). The
    unit price stays a raw IEEE double quotient — division is
    bit-identical across Spark and DuckDB, whereas any decimal/round
    step hits engine-specific tie rounding (observed: round(x,4) off
    by 1 ulp in the 4th decimal, and decimal(38,6) division off on
    654/60k rows from different intermediate-scale rules)."""
    l = _t(spark, sf, "lineitem")
    link = l.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    eu = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(_t(spark, sf, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(_t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = _t(spark, sf, "part").filter(F.col("p_size") == 15)
    cand = (
        link.join(F.broadcast(eu), link.sk == eu.s_suppkey)
        .join(F.broadcast(p), link.pk == p.p_partkey)
        .withColumn("min_up", F.min("unit_price").over(Window.partitionBy("pk")))
    )
    return (
        cand.filter(F.col("unit_price") == F.col("min_up"))
        .select("p_partkey", "s_name", "s_acctbal", "n_name", "unit_price")
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(100)
    )


@_register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume by year between two nations."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@_register(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END
                         AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region    ON n1.n_regionkey = r_regionkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8: one nation's market share inside a region, by year.
    Share = exact decimal sum of the nation's volume over exact total,
    divided as doubles (bit-identical to the oracle)."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(_dec(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)))
                .cast("double")
                / F.sum(_dec(vol)).cast("double")
            ).alias("mkt_share")
        )
    )


@_register(
    "q9_product_type_profit",
    """
    SELECT n_name AS nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_type = 'PROMO'
    ) profit
    GROUP BY n_name, o_year
    """,
)
def q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year. Supply cost
    is proxied as 0.6 * retail price (no partsupp.ps_supplycost in this
    schema); the per-row arithmetic is double (IEEE-identical) and the
    aggregation exact decimal."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    n = _t(spark, sf, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_dsum(amount).alias("sum_profit"))
    )


@_register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
             AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10: top customers by returned-item revenue in a quarter."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@_register(
    "q11_important_stock",
    """
    WITH vals AS (
      SELECT l_partkey AS p_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS v
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
      GROUP BY 1
    )
    SELECT p_partkey, CAST(v AS DOUBLE) AS value
    FROM vals, (SELECT SUM(v) AS total FROM vals) t
    WHERE CAST(v AS DOUBLE) > 0.001 * CAST(total AS DOUBLE)
    """,
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose supplied value from a nation group
    exceeds a fraction of the total — the scalar subquery stays IN-PLAN
    as a broadcast one-row cross join (no driver collect)."""
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_0", "NATION_1", "NATION_2")
    )
    vals = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(_dec(F.col("l_extendedprice"))).alias("v"))
    )
    total = vals.agg(F.sum("v").alias("total"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double") > 0.001 * F.col("total").cast("double"))
        .select("p_partkey", F.col("v").cast("double").alias("value"))
    )


@_register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no,
         (SELECT max(total_revenue) AS mx FROM revenue) m
    WHERE total_revenue = mx
    """,
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the maximum quarterly revenue.
    The MAX scalar subquery is a broadcast one-row cross join."""
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT sk) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem) link
      JOIN part ON pk = p_partkey
    WHERE p_size IN (1, 5, 15, 25, 35, 45)
      AND sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part descriptor,
    excluding a supplier blacklist (NOT IN -> broadcast anti join)."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_size").isin(1, 5, 15, 25, 35, 45))
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    link = l.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    return (
        link.join(F.broadcast(bad), link.sk == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("pk") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("sk").alias("supplier_cnt"))
    )


@_register(
    "q20_excess_shipments",
    """
    WITH shipped AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             SUM(CAST(l_quantity AS DECIMAL(38,6))) AS q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ),
    tot AS (SELECT pk, SUM(q) AS tq FROM shipped GROUP BY pk)
    SELECT DISTINCT s_suppkey, s_name
    FROM shipped JOIN tot USING (pk)
                 JOIN part ON pk = p_partkey
                 JOIN supplier ON sk = s_suppkey
    WHERE p_type = 'PROMO' AND CAST(q AS DOUBLE) > 0.3 * CAST(tq AS DOUBLE)
    """,
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding an outsized share (>30%) of a
    part type's yearly shipments — correlated aggregate comparison
    decorrelated into a per-part total join."""
    l = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf, "supplier")
    shipped = l.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.sum(_dec(F.col("l_quantity"))).alias("q"))
    tot = shipped.groupBy("pk").agg(F.sum("q").alias("tq"))
    return (
        shipped.join(tot, "pk")
        .join(F.broadcast(p), F.col("pk") == p.p_partkey)
        .filter(F.col("q").cast("double") > 0.3 * F.col("tq").cast("double"))
        .join(F.broadcast(s), F.col("sk") == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
    )


@_register(
    "q21_waiting_suppliers",
    """
    WITH l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    all_s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s_name, count(*) AS numwait
    FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM all_s a
                  WHERE a.l_orderkey = l1.l_orderkey AND a.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l1 b
                      WHERE b.l_orderkey = l1.l_orderkey AND b.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-late supplier per finished order
    (late = shipped >60 days after order date; no commit/receipt dates
    in this schema). EXISTS -> left-semi, NOT EXISTS -> left-anti."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    l1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_s = li.select("l_orderkey", "l_suppkey").distinct()
    a = all_s.select(
        F.col("l_orderkey").alias("a_ok"), F.col("l_suppkey").alias("a_sk")
    )
    b = l1.select(F.col("l_orderkey").alias("b_ok"), F.col("l_suppkey").alias("b_sk"))
    waiting = (
        l1.join(
            a,
            (F.col("l_orderkey") == F.col("a_ok")) & (F.col("l_suppkey") != F.col("a_sk")),
            "left_semi",
        ).join(
            b,
            (F.col("l_orderkey") == F.col("b_ok")) & (F.col("l_suppkey") != F.col("b_sk")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Bench-only variants: same operators as their oracled twins but using
# hash functions (JVM xxhash64) or approximate prefilters whose exact
# output is not reproducible in DuckDB SQL.  bench.py times these; the
# QUERIES registry (and thus the driver's correctness gate) carries only
# exact-oracled entries.

def dsir_select_docs_fast(spark: SparkSession, sf: str) -> DataFrame:
    """xxhash64 bench twin of the md5-oracled dsir_select_docs: the
    same estimator (hashed unigram+bigram bag models, integer
    micro-nat log ratios, top-200) under the JVM-native hash — the
    md5-parity construction exists for SQL verification; deployment
    hashes ~10× cheaper. Rankings agree up to hash choice (bucket
    collisions differ), the simhash/minhash twin discipline."""
    from .operators.curation import dsir_select

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return dsir_select(corpus, target, k=200, dim=4096, hash_fn="xxhash64")


BENCH_ONLY: dict[str, QueryFn] = {
    "dsir_select_docs_fast": dsir_select_docs_fast,
    "minhash_lsh_dups_fast": minhash_lsh_dups_fast,
    "simhash_dups_fast": simhash_dups_fast,
    "embedding_near_dups_lsh": embedding_near_dups_lsh,
    "cosine_topk_fast": cosine_topk_fast_q,
    "ann_lsh_topk_fast": ann_lsh_topk_fast_q,
    "ivf_ann_topk_fast": ivf_ann_topk_fast_q,
    "pq_ann_topk_fast": pq_ann_topk_fast_q,
    "embedding_near_dups_lsh_fast": embedding_near_dups_lsh_fast,
    "decontamination_check_fast": decontamination_check_fast,
    "dup_substring_spans_fast": dup_substring_spans_fast,
}


# ---------------------------------------------------------------------------
# Live-database round trips (round 2): the commit protocol against a
# real DuckDB file, and negotiated pushdown executed by a live engine.

_DDB_ROUNDTRIP_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey < 100
"""


@_register("duckdb_commit_roundtrip", _DDB_ROUNDTRIP_ORACLE)
def duckdb_commit_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Package -> DuckDbDestination REPLACE commit -> receipt verify ->
    read the committed table back. The oracle is the same slice straight
    off the parquet: the committed database must contain exactly it
    (`crates/cdf-dest-duckdb/src/commit.rs:150-216` protocol parity)."""
    import shutil
    import tempfile

    from .package import DuckDbDestination, PackageBuilder
    from .sources.base import WriteDisposition

    tmp = tempfile.mkdtemp(prefix="cdf_ddbq_")
    try:
        o = (
            _t(spark, sf, "orders")
            .filter(F.col("o_custkey") < 100)
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        pkg = PackageBuilder(f"{tmp}/pkgs", "orders_q").build(admitted=o)
        dest = DuckDbDestination(f"{tmp}/t.duckdb", "orders_t")
        rec = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.REPLACE), pkg)
        if not rec.verified:
            raise RuntimeError("duckdb commit receipt failed verification")
        return dest.read_back(spark)  # eager local relation; tmp dir may go
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "tombstone_merge_read",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey < 100
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice + 1000.0, 2) AS o_totalprice
      FROM orders WHERE o_custkey >= 50 AND o_custkey < 150
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def tombstone_merge_read(spark: SparkSession, sf: str) -> DataFrame:
    """Merge WITHOUT rewrite: base commit + tombstone-merge batch, read
    through the merge-on-read view. The oracle recomputes the merged
    state relationally — the anti-join liveness resolution must agree
    value-for-value (deletion-vector semantics over plain parquet;
    keyed merge parity with crates/cdf-dest-duckdb/src/commit.rs:150-216)."""
    from .package import PackageBuilder
    from .package.tombstone import TombstoneParquetDestination
    from .sources.base import WriteDisposition

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders")
        base = orders.filter(F.col("o_custkey") < 100).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        batch = orders.filter((F.col("o_custkey") >= 50) & (F.col("o_custkey") < 150)).select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        )
        dest = TombstoneParquetDestination(f"{tmp}/t", merge_keys=["o_orderkey"])
        p1 = PackageBuilder(f"{tmp}/p1", "tomb_base").build(admitted=base)
        r1 = dest.verify(spark, dest.commit(spark, p1, WriteDisposition.APPEND), p1)
        p2 = PackageBuilder(f"{tmp}/p2", "tomb_batch").build(admitted=batch)
        r2 = dest.verify(spark, dest.commit(spark, p2, WriteDisposition.MERGE), p2)
        if not (r1.verified and r2.verified):
            raise RuntimeError("tombstone commit receipt failed verification")

    tmp = _session_fixture("tombq", sf, build)
    return TombstoneParquetDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "duckdb_source_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_totalprice > 400000.0
    """,
)
def duckdb_source_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Negotiated scan executed by a LIVE database: orders loaded into a
    DuckDB file, then scanned through DbApiResource — projection and
    predicate are pushed into the engine (fidelity Exact, empty
    residual), so only the selected slice crosses into Spark
    (`crates/cdf-source-sqlite/src/source.rs:276-330` behavior)."""
    import shutil
    import tempfile

    import duckdb

    from .sources.dbapi import DbApiResource

    tmp = tempfile.mkdtemp(prefix="cdf_ddbsrc_")
    db = f"{tmp}/src.duckdb"
    try:
        con = duckdb.connect(db)
        con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
        )
        con.close()
        res = DbApiResource(
            ResourceDescriptor(resource_id="orders_db"),
            connect=lambda: duckdb.connect(db, read_only=True),
            table="orders",
        )
        df, plan = res.scan(
            spark,
            ScanRequest(
                "orders",
                projection=["o_orderkey", "o_custkey", "o_totalprice"],
                predicates=[Col("o_totalprice") > 400000.0],
            ),
        )
        if plan.residual:
            raise RuntimeError("database pushdown should leave no residual")
        return df
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "sqlite_commit_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_custkey < 100
    """,
)
def sqlite_commit_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Package -> SQLite MERGE commit (null-safe keyed upsert via the
    dialect's `IS`) -> grouped-count verify -> read back. Merging the
    same batch twice proves idempotence: the committed table must equal
    the slice exactly, not double it
    (`crates/cdf-dest-sqlite/` commit-path parity)."""
    import shutil
    import sqlite3
    import tempfile

    from .package import PackageBuilder
    from .package.dbapi_dest import SQLITE, DbApiDestination
    from .sources.base import WriteDisposition

    tmp = tempfile.mkdtemp(prefix="cdf_sqlq_")
    try:
        o = (
            _t(spark, sf, "orders")
            .filter(F.col("o_custkey") < 100)
            .select("o_orderkey", "o_custkey", "o_orderstatus")
        )
        pkg = PackageBuilder(f"{tmp}/pkgs", "orders_q").build(admitted=o)
        db = f"{tmp}/t.db"
        dest = DbApiDestination(
            lambda: sqlite3.connect(db),
            "orders_t",
            merge_keys=["o_orderkey"],
            dialect=SQLITE,
            destination_uri=f"sqlite://{db}#orders_t",
        )
        for _ in range(2):  # idempotent upsert: second merge is a no-op
            rec = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.MERGE), pkg)
            if not rec.verified:
                raise RuntimeError("sqlite commit receipt failed verification")
        return dest.read_back(spark)  # eager local relation; tmp dir may go
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "catalog_partition_scan",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus AS status
    FROM orders
    WHERE o_orderstatus = 'F' AND o_custkey < 500
    """,
)
def catalog_partition_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Glue-shaped catalog scan: orders laid out hive-partitioned by
    status, crawled into a FileCatalog, scanned with a partition
    predicate (pruned at the manifest — 1 of 3 partitions read, checked)
    plus a residual column predicate
    (`crates/cdf-source-glue/src/planner.rs:30-120` pushdown parity)."""
    from .plans.scan import ScanRequest
    from .sources.base import ResourceDescriptor
    from .sources.catalog import CatalogTableResource, catalog_from_hive_layout

    def build(tmp: str) -> None:
        (
            _t(spark, sf, "orders")
            .withColumn("status", F.col("o_orderstatus"))
            .write.partitionBy("status")
            .parquet(f"{tmp}/orders")
        )

    tmp = _session_fixture("cat_hive", sf, build)
    cat = catalog_from_hive_layout("lake", "orders", f"{tmp}/orders", [("status", "string")])
    res = CatalogTableResource(ResourceDescriptor(resource_id="orders"), cat, "lake", "orders")
    df, plan = res.scan(
        spark,
        ScanRequest(
            "orders",
            projection=["o_orderkey", "o_custkey", "status"],
            predicates=[Col("status") == "F", Col("o_custkey") < 500],
        ),
    )
    if plan.partitions.meta["partitions_scanned"] >= plan.partitions.meta["partitions_total"]:
        raise RuntimeError("catalog scan did not prune the partition manifest")
    return df


# ---------------------------------------------------------------------------
# Non-vacuous embedding near-dup evidence (round 2): plant twin vectors
# with md5-derived (SQL-reproducible) noise so the exact operator has
# REAL ground truth to find at every scale factor.  The LSH scale path
# is gated against this same construction in tests/test_lsh_recall.py.

_PLANTED_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
twins AS (
  SELECT c.vec_id + 100000 AS vec_id,
         [e[d+1] + 0.05 * ((CAST(('0x'||substr(md5(CAST(c.vec_id AS VARCHAR)||':'||CAST(d AS VARCHAR)),1,15)) AS BIGINT) % 10000)/5000.0 - 1.0)
          for d in range(0, 64)] AS e
  FROM c WHERE c.vec_id < 100
),
corpus AS (SELECT * FROM c UNION ALL SELECT * FROM twins),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.e, b.e), 4) AS sim
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.95
"""


def planted_near_dup_corpus(emb: DataFrame, n_twins: int = 100, scale: float = 0.05) -> DataFrame:
    """Corpus ∪ perturbed twins: twin[d] = e[d] + scale * u(id, d) with
    u md5-derived in [-1, 1) — deterministic, executor-independent, and
    bit-identical in DuckDB SQL (same construction as the RHP planes)."""
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # withColumn sequencing matters: the noise hashes the ORIGINAL id,
    # so the id shift must come after (a single select would bind
    # `vec_id` to the shifted lateral alias under Spark 4 resolution)
    twins = (
        base.filter(F.col("vec_id") < n_twins)
        .withColumn(
            "e",
            F.transform(
                F.col("e"),
                lambda x, i: x
                + F.lit(scale)
                * (
                    (
                        hash64(
                            F.concat(F.col("vec_id").cast("string"), F.lit(":"), i.cast("string"))
                        )
                        % 10000
                    )
                    / F.lit(5000.0)
                    - F.lit(1.0)
                ),
            ),
        )
        .withColumn("vec_id", F.col("vec_id") + 100000)
    )
    return base.unionByName(twins)


@_register("embedding_near_dups", _PLANTED_ORACLE)
def embedding_near_dups_planted(spark: SparkSession, sf: str) -> DataFrame:
    """Exact near-dup pairs over the planted corpus — ~100 true pairs at
    every sf (non-vacuous, unlike the raw table where random unit
    vectors never reach cos >= 0.95; that variant is kept unregistered
    as `embedding_near_dups_raw`). Primary registry entry since round 3
    (was `embedding_near_dups_planted`)."""
    corpus = planted_near_dup_corpus(_t(spark, sf, "embeddings"))
    return embedding_near_dup_pairs(corpus, threshold=0.95, id_col="vec_id", vec_col="e")


_SEMDEDUP_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
twins AS (
  SELECT c.vec_id + 100000 AS vec_id,
         [e[d+1] + 0.05 * ((CAST(('0x'||substr(md5(CAST(c.vec_id AS VARCHAR)||':'||CAST(d AS VARCHAR)),1,15)) AS BIGINT) % 10000)/5000.0 - 1.0)
          for d in range(0, 64)] AS e
  FROM c WHERE c.vec_id < 100
),
corpus AS (SELECT * FROM c UNION ALL SELECT * FROM twins),
cents AS (SELECT vec_id AS cid, e AS ce FROM corpus WHERE vec_id % 50 = 0),
assigned AS (
  SELECT id, cluster, e FROM (
    SELECT corpus.vec_id AS id, cents.cid AS cluster, corpus.e AS e,
           row_number() OVER (PARTITION BY corpus.vec_id
             ORDER BY round(list_cosine_similarity(corpus.e, cents.ce), 4) DESC,
                      cents.cid ASC) AS rk
    FROM corpus CROSS JOIN cents
  ) WHERE rk = 1
),
dropped AS (
  SELECT DISTINCT b.id AS id
  FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.id < b.id
  WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.95
)
SELECT id AS vec_id, cluster FROM assigned
WHERE id NOT IN (SELECT id FROM dropped)
"""


@_register("semantic_dedup_keep", _SEMDEDUP_ORACLE)
def semantic_dedup_keep(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the planted corpus
    (`operators/similarity.semantic_dedup`): nearest-deterministic-
    centroid clustering confines the quadratic cosine check to
    clusters; within each cluster only the smallest-id member of a
    >=0.95 group survives. The planted twins guarantee ~100 true
    semantic dups at every sf (non-vacuous), and the id-min keep rule
    makes the whole operator — clustering included — value-verifiable
    in the oracle."""
    corpus = planted_near_dup_corpus(_t(spark, sf, "embeddings"))
    return semantic_dedup(
        corpus, id_col="vec_id", vec_col="e", centroid_modulus=50, threshold=0.95
    )


@_register(
    "pg_copy_roundtrip_scan",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer",
)
def pg_copy_roundtrip_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Wire fidelity through the Postgres binary-COPY commit path
    (`package/pg_copy.py`, replacing `crates/cdf-dest-postgres/`): the
    customer table is packaged, staged distributed (foreachPartition,
    one binary COPY stream per executor partition), and the captured
    PGCOPY byte streams are decoded back by the independent wire-spec
    decoder; values must equal the parquet original. No live server in
    the image — the transport seam records the exact bytes Postgres
    would receive."""
    import shutil
    import tempfile

    import pyarrow as pa

    from .package.builder import PackageBuilder
    from .package.pg_copy import FileCopyTransport, PostgresCopyDestination, decode_copy_binary
    from .sources.base import WriteDisposition

    tmp = tempfile.mkdtemp(prefix="cdf_pgcopy_")
    try:
        src = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        pkg = PackageBuilder(f"{tmp}/pkgs", resource_id="customer").build(src)
        wire = f"{tmp}/wire"
        dest = PostgresCopyDestination(
            transport_factory=lambda: FileCopyTransport(wire),
            table="customer_tgt",
            merge_keys=["c_custkey"],
            distributed=True,
        )
        dest.commit(spark, pkg, WriteDisposition.MERGE)
        schema = pa.schema(
            [
                pa.field("c_custkey", pa.int64()),
                pa.field("c_name", pa.string()),
                pa.field("c_nationkey", pa.int32()),  # fixture carries int32
                pa.field("c_acctbal", pa.float64()),
                # retry-idempotent staging tags each row with its spark
                # partition id (advisory-locked delete-then-copy)
                pa.field("_cdf_part", pa.int32()),
            ]
        )
        import os as _os

        rows = []
        for f in sorted(_os.listdir(f"{tmp}/wire")):
            if f.endswith(".pgcopy"):
                with open(f"{tmp}/wire/{f}", "rb") as fh:
                    rows.extend(r[:-1] for r in decode_copy_binary(fh.read(), schema))
        return spark.createDataFrame(rows, src.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "avro_roundtrip_scan",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def avro_roundtrip_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Format fidelity through the jar-free Avro path: the nation table
    written as an Avro object container file (deflate codec), decoded
    back executor-side (`sources/avro_format.py`, replacing
    `crates/cdf-format-avro/`); values must equal the parquet original."""
    import shutil
    import tempfile

    from .sources.avro_format import read_avro, write_avro

    def build(tmp: str) -> None:
        src = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
        write_avro(src, f"{tmp}/nation.avro")

    tmp = _session_fixture("avro_rt", sf, build)
    return read_avro(spark, f"{tmp}/nation.avro")


@_register(
    "mongo_extended_json_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey <= 900
    """,
)
def mongo_extended_json_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Transport fidelity through the MongoDB-shaped source
    (`sources/mongo_source.MongoCollectionResource`, replacing
    `crates/cdf-source-mongodb/src/resource.rs:254-340`): an orders
    subset is exported as mongoexport relaxed extended JSON — long
    keys wrapped as {"$numberLong": "..."}, timestamps as {"$date":
    ISO-8601}, an ObjectId-shaped _id as {"$oid": ...} — and the
    collection scan must unwrap every wrapper back to typed columns
    equal to the parquet original. The NDJSON is WRITTEN by Spark and
    parsed by Spark's native distributed json reader (no driver-side
    rows)."""

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").filter(F.col("o_orderkey") <= 900)
        doc = F.to_json(
            F.struct(
                F.struct(
                    F.lpad(F.hex(F.col("o_orderkey")), 24, "0").alias("$oid")
                ).alias("_id"),
                F.struct(
                    F.col("o_orderkey").cast("string").alias("$numberLong")
                ).alias("o_orderkey"),
                F.struct(
                    F.col("o_custkey").cast("string").alias("$numberLong")
                ).alias("o_custkey"),
                F.col("o_totalprice"),
                F.struct(
                    F.date_format(
                        F.col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
                    ).alias("$date")
                ).alias("o_orderdate"),
            )
        )
        o.select(doc.alias("value")).coalesce(1).write.mode("overwrite").text(
            f"{tmp}/orders_coll"
        )

    tmp = _session_fixture("mongo_ext", sf, build)
    from .sources.base import ResourceDescriptor
    from .sources.mongo_source import MongoCollectionResource

    res = MongoCollectionResource(
        descriptor=ResourceDescriptor(resource_id="orders_coll"),
        path=f"{tmp}/orders_coll/*.txt",
    )
    df = res.read(spark)
    return df.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("o_orderdate").alias("o_orderdate"),
    )


@_register(
    "schema_admission_ingest",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 400
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey > 400 AND o_orderkey <= 900
    """,
)
def schema_admission_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-authority admission through the FULL pipeline
    (`types/authority.SchemaAuthority` wired in `runtime.py`, parity
    with `crates/cdf-engine/src/execution/schema_admission.rs`): load
    1 promotes the head (o_orderkey, o_totalprice); load 2 arrives
    MISSING the nullable o_totalprice column — verdict
    missing_fields, the engine null-fills so the package keeps the
    promoted shape, and both loads land in one destination. The
    oracle recomputes the union with the null-filled column."""
    import shutil as _shutil

    def build(tmp: str) -> None:
        from .package.ledger import CheckpointLedger, ParquetDestination
        from .runtime import LoadPipeline
        from .sources.base import ResourceDescriptor
        from .sources.files import FileResource

        o = _t(spark, sf, "orders")
        o.filter(F.col("o_orderkey") <= 400).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{tmp}/batch1")
        o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)).select(
            "o_orderkey"
        ).write.mode("overwrite").parquet(f"{tmp}/batch2")

        ledger = CheckpointLedger(f"{tmp}/ledger")
        dest = ParquetDestination(f"{tmp}/dest")
        for batch in ("batch1", "batch2"):
            LoadPipeline(
                resource=FileResource(
                    ResourceDescriptor(resource_id="orders_evolve"), f"{tmp}/{batch}"
                ),
                package_root=f"{tmp}/pkgs",
                ledger=ledger,
                destination=dest,
            ).run(spark)

    tmp = _session_fixture("schema_adm", sf, build)
    return spark.read.parquet(f"{tmp}/dest").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@_register(
    "correction_restatement",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 100 THEN -9.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey <= 900 AND o_orderkey NOT BETWEEN 400 AND 500
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey BETWEEN 450 AND 460
    """,
)
def correction_restatement(spark: SparkSession, sf: str) -> DataFrame:
    """Addressed corrections over a committed destination
    (`package/correction.apply_correction`, the reference's
    restatement surface): retract keys [400, 500], amend keys <= 100
    to o_totalprice = -9, reinstate keys [450, 460] from the original
    — each a staged rewrite recorded in the correction ledger. The
    oracle recomputes the restated table relationally."""

    def build(tmp: str) -> None:
        from .package.correction import CorrectionSpec, apply_correction

        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        base = o.filter(F.col("o_orderkey") <= 900)
        base.write.mode("overwrite").parquet(f"{tmp}/dest")

        retract_keys = [
            {"o_orderkey": int(r[0])}
            for r in base.filter(F.col("o_orderkey").between(400, 500))
            .select("o_orderkey")
            .collect()
        ]
        amend_keys = [
            {"o_orderkey": int(r[0])}
            for r in base.filter(F.col("o_orderkey") <= 100).select("o_orderkey").collect()
        ]
        apply_correction(
            spark,
            f"{tmp}/dest",
            CorrectionSpec(kind="retract", keys=["o_orderkey"], key_values=retract_keys),
            ledger_root=f"{tmp}/ledger",
        )
        apply_correction(
            spark,
            f"{tmp}/dest",
            CorrectionSpec(
                kind="amend",
                keys=["o_orderkey"],
                key_values=amend_keys,
                amendments={"o_totalprice": -9.0},
            ),
            ledger_root=f"{tmp}/ledger",
        )
        apply_correction(
            spark,
            f"{tmp}/dest",
            CorrectionSpec(kind="reinstate", keys=["o_orderkey"]),
            reinstate_df=o.filter(F.col("o_orderkey").between(450, 460)),
            ledger_root=f"{tmp}/ledger",
        )

    tmp = _session_fixture("correction", sf, build)
    return spark.read.parquet(f"{tmp}/dest").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@_register(
    "dlt_incremental_scan",
    """
    SELECT CAST(i AS BIGINT) AS id, CAST(i AS DOUBLE) * 2.5 AS amount
    FROM range(1, 401) r(i) WHERE i > 120
    """,
)
def dlt_incremental_scan(spark: SparkSession, sf: str) -> DataFrame:
    """The dlt-compat shim end-to-end (`sources/dlt_compat`, the
    reference's python SDK compatibility surface): a ``@resource``
    generator with an ``incremental`` cursor hint runs twice against a
    shared pipeline state — the first run advances last_value to 120,
    the second yields ONLY the (120, 400] delta (dlt cursor
    semantics). The oracle recomputes the second run's window
    relationally."""
    from .sources.dlt_compat import incremental, pipeline_state, resource, run_resource

    state = pipeline_state()

    def make(limit: int):
        @resource(
            name="nums",
            primary_key="id",
            incremental=incremental("id"),
        )
        def nums():
            for i in range(1, limit + 1):
                yield {"id": i, "amount": float(i) * 2.5}

        return nums

    df1, _ = run_resource(spark, make(120), state=state)
    if df1.count() != 120:
        raise RuntimeError("first dlt run must take the full initial window")
    df2, _ = run_resource(spark, make(400), state=state)
    return df2.select(
        F.col("id").cast("long").alias("id"),
        F.col("amount").cast("double").alias("amount"),
    )


@_register(
    "byte_transform_chain_scan",
    """
    SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_size >= 20
    """,
)
def byte_transform_chain_scan(spark: SparkSession, sf: str) -> DataFrame:
    """A declared byte-transform CHAIN executed on executors
    (`sources/byte_transforms.read_with_transforms`, replacing the
    reference's `cdf-transform-*` crate family): part rows exported as
    UTF-16LE NDJSON, xz-compressed, split across multiple files; the
    chain [xz, transcode:utf-16-le] decompresses + transcodes per file
    in mapInPandas batches, parsing stays JVM-side (`from_json`), and
    the decoded frame equals the relational recompute."""
    import lzma as _lzma
    from pathlib import Path as _Path

    def build(tmp: str) -> None:
        rows = (
            _t(spark, sf, "part")
            .filter(F.col("p_size") >= 20)
            .select("p_partkey", "p_brand", "p_retailprice")
            .orderBy("p_partkey")
            .collect()
        )
        import json as _json

        d = _Path(tmp) / "chain"
        d.mkdir(parents=True, exist_ok=True)
        # three files so the executor-side decode genuinely fans out
        chunks = [rows[i::3] for i in range(3)]
        for i, chunk in enumerate(chunks):
            text = "\n".join(
                _json.dumps(
                    {
                        "p_partkey": int(r[0]),
                        "p_brand": r[1],
                        "p_retailprice": float(r[2]),
                    }
                )
                for r in chunk
            )
            (d / f"part-{i}.ndjson.xz").write_bytes(
                _lzma.compress(text.encode("utf-16-le"))
            )

    tmp = _session_fixture("byte_chain", sf, build)
    from .sources.byte_transforms import read_with_transforms

    df = read_with_transforms(
        spark,
        f"{tmp}/chain/*.xz",
        transforms=["xz", "transcode:utf-16-le"],
        format="ndjson",
        schema="p_partkey bigint, p_brand string, p_retailprice double",
    )
    return df.select("p_partkey", "p_brand", "p_retailprice")


@_register(
    "cdc_epoch_apply",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 150 THEN -1.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey <= 500 AND o_orderkey < 400
    """,
)
def cdc_epoch_apply(spark: SparkSession, sf: str) -> DataFrame:
    """The CDC log source end-to-end at TRANSACTION boundaries
    (`sources/cdc.CdcLogSource`, replacing the reference's WAL epoch
    machinery `crates/cdf-kernel/src/position/cdc.rs:1-936` +
    `drain_epoch.rs`): a three-transaction log (inserts <= 500, then
    updates <= 150 to -1, then deletes [400, 500]) consumed as TWO
    epochs — the first capped at max_txns=2 so its boundary falls
    exactly between whole transactions, the second resuming from the
    checkpointed txid. Within each epoch effects reduce per key in
    (txid, seq) order and merge atomically; the oracle recomputes the
    final state relationally."""

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        base = o.filter(F.col("o_orderkey") <= 500)
        w = Window.orderBy("o_orderkey")
        tx1 = base.select(
            F.col("o_orderkey"),
            F.col("o_totalprice"),
            F.lit("insert").alias("op"),
            F.lit(1).cast("long").alias("txid"),
            F.row_number().over(w).cast("long").alias("seq"),
        )
        tx2 = (
            base.filter(F.col("o_orderkey") <= 150)
            .select(
                F.col("o_orderkey"),
                F.lit(-1.0).alias("o_totalprice"),
                F.lit("update").alias("op"),
                F.lit(2).cast("long").alias("txid"),
                F.row_number().over(w).cast("long").alias("seq"),
            )
        )
        tx3 = (
            base.filter(F.col("o_orderkey") >= 400)
            .select(
                F.col("o_orderkey"),
                F.lit(None).cast("double").alias("o_totalprice"),
                F.lit("delete").alias("op"),
                F.lit(3).cast("long").alias("txid"),
                F.row_number().over(w).cast("long").alias("seq"),
            )
        )
        tx1.unionByName(tx2).unionByName(tx3).write.mode("overwrite").parquet(
            f"{tmp}/cdc_log"
        )

    tmp = _session_fixture("cdc_log", sf, build)
    from .sources.cdc import CdcLogSource

    src = CdcLogSource(f"{tmp}/cdc_log", keys=["o_orderkey"])
    target = spark.createDataFrame([], "o_orderkey bigint, o_totalprice double")
    plan1 = src.plan_epoch(spark, resume_txid=None, max_txns=2)
    if plan1 is None or plan1.txn_count != 2:
        raise RuntimeError(f"epoch 1 must span exactly 2 whole transactions, got {plan1}")
    target = src.apply_epoch(spark, target, plan1, payload_cols=["o_totalprice"])
    plan2 = src.plan_epoch(spark, resume_txid=plan1.to_txid_inclusive)
    if plan2 is None or plan2.txn_count != 1:
        raise RuntimeError(f"epoch 2 must span the final transaction, got {plan2}")
    target = src.apply_epoch(spark, target, plan2, payload_cols=["o_totalprice"])
    return target.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@_register(
    "rest_paged_scan",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey <= 300 AND c_custkey > 50
    """,
)
def rest_paged_scan(spark: SparkSession, sf: str) -> DataFrame:
    """A REAL paged HTTP exchange (`sources/rest.RestResource`,
    replacing `crates/cdf-source-rest/`): a local HTTP server serves
    the customer subset 40 rows per page; the resource pages through
    `?page=N`, pushes the declared cursor as a `c_custkey_gt` query
    parameter (the server enforces it — cursor pushdown is real, not a
    post-filter), and the assembled frame must equal the relational
    recompute. The server lives only for the duration of the read."""
    import json as _json
    import threading as _threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    rows = [
        {"c_custkey": int(r[0]), "c_name": r[1], "c_acctbal": float(r[2])}
        for r in _t(spark, sf, "customer")
        .filter(F.col("c_custkey") <= 300)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
        .collect()
    ]

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            from urllib.parse import parse_qs, urlparse

            q = parse_qs(urlparse(self.path).query)
            page = int(q.get("page", ["0"])[0])
            gt = q.get("c_custkey_gt")
            data = rows
            if gt:  # server-side cursor enforcement
                data = [r for r in rows if r["c_custkey"] > int(gt[0])]
            items = data[page * 40 : (page + 1) * 40]
            body = _json.dumps({"items": items}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # noqa: D102 — quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = _threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from .sources.base import CursorSpec, ResourceDescriptor
        from .sources.rest import Pagination, RestResource

        res = RestResource(
            descriptor=ResourceDescriptor(
                resource_id="customers_api",
                schema={"c_custkey": "int64", "c_name": "utf8", "c_acctbal": "float64"},
                cursor=CursorSpec("c_custkey", None),
            ),
            url=f"http://127.0.0.1:{srv.server_port}/customers",
            pagination=Pagination(strategy="page", param="page", start=0, items_field="items"),
        )
        df, _pos = res.read(spark, cursor_resume=50)
    finally:
        srv.shutdown()
    return df.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )


@_register(
    "python_resource_context_scan",
    """
    SELECT CAST(i AS BIGINT) AS id, CAST(i AS DOUBLE) * 10.0 AS amount
    FROM range(1, 501) r(i) WHERE i > 100
    """,
)
def python_resource_context_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Python `@resource` generator with engine Context injection
    (`sources/python_source.PythonResource` + `sources/context.py`,
    the reference's python SDK shape `python/cdf_sdk/context.py:60-71`):
    the generator reads its resume position from the injected cursor
    view and pushes the filter to its own 'upstream' (yields only ids
    past the resume point) — pushdown by contract, verified because
    the oracle recomputes the same window relationally."""
    from .sources.base import CursorSpec, ResourceDescriptor
    from .sources.python_source import PythonResource

    def gen(context):
        start = int(context.cursor.get("id") or 0)
        for i in range(start + 1, 501):
            yield {"id": i, "amount": float(i) * 10.0}

    res = PythonResource(
        descriptor=ResourceDescriptor(
            resource_id="py_rows",
            schema={"id": "int64", "amount": "float64"},
            cursor=CursorSpec("id", None),
        ),
        fn=gen,
    )
    return res.read(spark, cursor_resume=100).select(
        F.col("id").cast("long").alias("id"),
        F.col("amount").cast("double").alias("amount"),
    )


@_register(
    "airbyte_subprocess_scan",
    """
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def airbyte_subprocess_scan(spark: SparkSession, sf: str) -> DataFrame:
    """A REAL child process speaking the Airbyte protocol, consumed by
    the subprocess adapter (`sources/subprocess_source.
    run_airbyte_source`, framing parity with
    `crates/cdf-subprocess/src/airbyte.rs:63-120`): the fixture
    generates a tap script that emits CATALOG (typed json_schema) +
    RECORD + stream STATE over the supplier table's NDJSON dump; the
    adapter applies the catalog schema, filters the stream, and the
    decoded frame must equal the parquet original. The subprocess
    boundary is genuine — stdout framing, malformed-line numbering and
    state positions all exercised live."""
    import sys as _sys
    from pathlib import Path as _Path

    def build(tmp: str) -> None:
        s = _t(spark, sf, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        )
        s.coalesce(1).write.mode("overwrite").json(f"{tmp}/supplier_nd")
        _Path(f"{tmp}/tap.py").write_text(
            '''
import glob, json, sys
rows = []
for p in sorted(glob.glob(sys.argv[1] + "/*.json")):
    with open(p) as f:
        rows += [json.loads(l) for l in f if l.strip()]
print(json.dumps({"type": "CATALOG", "catalog": {"streams": [{
    "name": "supplier",
    "json_schema": {"type": "object", "properties": {
        "s_suppkey": {"type": "integer"},
        "s_name": {"type": "string"},
        "s_nationkey": {"type": "integer"},
        "s_acctbal": {"type": "number"}}}}]}}))
for i, r in enumerate(rows):
    print(json.dumps({"type": "RECORD", "record": {
        "stream": "supplier", "data": r, "emitted_at": 1700000000000 + i}}))
print(json.dumps({"type": "STATE", "state": {"type": "STREAM",
    "stream": {"stream_descriptor": {"name": "supplier"},
               "stream_state": {"rows": len(rows)}}}}))
'''
        )

    tmp = _session_fixture("airbyte_sub", sf, build)
    from .sources.subprocess_source import run_airbyte_source

    result = run_airbyte_source(
        spark,
        [_sys.executable, f"{tmp}/tap.py", f"{tmp}/supplier_nd"],
        stream="supplier",
    )
    if not result.positions:
        raise RuntimeError("airbyte tap emitted no STATE position")
    return result.df.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )


@_register(
    "clickhouse_transport_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey < 100 ORDER BY o_orderkey LIMIT 500
    """,
)
def clickhouse_transport_scan(spark: SparkSession, sf: str) -> DataFrame:
    """The ClickHouse resource's FULL negotiated path executed by a
    LIVE engine behind the transport seam
    (`sources/clickhouse_source.ClickHouseScanResource`, replacing
    `crates/cdf-source-clickhouse/src/resource.rs:254-300`): the
    negotiated projection/predicate/order/limit render to SQL, the
    transport executes it (here DuckDB standing in for the server —
    the exact surface `clickhouse_driver.Client.execute` provides, and
    the only piece a live deployment swaps), rows come back as bare
    tuples the plan's column order types. Pushdown is real: the engine
    enforces the WHERE/ORDER/LIMIT, not a post-filter."""
    import duckdb as _duckdb

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        rows = [(int(r[0]), int(r[1]), float(r[2])) for r in o.collect()]
        con = _duckdb.connect(f"{tmp}/ch.duckdb")
        con.execute(
            "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)"
        )
        con.executemany("INSERT INTO orders VALUES (?, ?, ?)", rows)
        con.close()

    tmp = _session_fixture("ch_scan", sf, build)
    from .expressions.ast import Col, Lit
    from .plans.scan import OrderBy, ScanRequest
    from .sources.base import ResourceDescriptor
    from .sources.clickhouse_source import ClickHouseScanResource

    class _DuckBackedTransport:
        """clickhouse_driver.Client.execute-shaped: query(sql) ->
        list of tuples."""

        def __init__(self, path: str):
            self._con = _duckdb.connect(path, read_only=True)

        def query(self, sql: str):
            return self._con.execute(sql).fetchall()

        def close(self):
            self._con.close()

    res = ClickHouseScanResource(
        ResourceDescriptor(resource_id="orders_ch"),
        transport_factory=lambda: _DuckBackedTransport(f"{tmp}/ch.duckdb"),
        table="orders",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    df, _plan = res.scan(
        spark,
        ScanRequest(
            "orders_ch",
            projection=["o_orderkey", "o_custkey", "o_totalprice"],
            predicates=[Col("o_custkey") < Lit(100)],
            order_by=[OrderBy("o_orderkey", ascending=True)],
            limit=500,
        ),
    )
    return df.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@_register(
    "mongo_change_stream_apply",
    """
    SELECT o_orderkey AS _id,
           CASE WHEN o_orderkey <= 200 THEN -1.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey <= 600 AND o_orderkey < 500
    """,
)
def mongo_change_stream_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Change-stream application end-to-end (`sources/mongo_source.
    MongoChangeStreamResource`, the watch()-event shape of
    `crates/cdf-source-mongodb/src/resource.rs:254-340`): archived
    events — inserts for keys <= 600, then updates setting
    o_totalprice = -1 for keys <= 200, then deletes for keys in
    [500, 600] — reduce to one winner per key in resume-token order
    and merge into an empty target. The oracle recomputes the final
    state relationally; resume tokens are lexically ordered strings as
    the stream contract requires."""

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        base = o.filter(F.col("o_orderkey") <= 600)

        def event(phase: str, op: str, df, with_doc: bool, price=None):
            doc_price = (
                F.lit(float(price)).alias("o_totalprice")
                if price is not None
                else F.col("o_totalprice")
            )
            parts = [
                F.struct(
                    F.concat(
                        F.lit(phase + "-"),
                        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
                    ).alias("_data")
                ).alias("_id"),
                F.lit(op).alias("operationType"),
                F.struct(F.col("o_orderkey").alias("_id")).alias("documentKey"),
            ]
            if with_doc:
                parts.append(
                    F.struct(
                        F.col("o_orderkey").alias("_id"), doc_price
                    ).alias("fullDocument")
                )
            return df.select(F.to_json(F.struct(*parts)).alias("value"))

        inserts = event("0001", "insert", base, True)
        updates = event("0002", "update", base.filter(F.col("o_orderkey") <= 200), True, -1.0)
        deletes = event(
            "0003", "delete", base.filter(F.col("o_orderkey") >= 500), False
        )
        inserts.unionByName(updates).unionByName(deletes).coalesce(1).write.mode(
            "overwrite"
        ).text(f"{tmp}/events")

    tmp = _session_fixture("mongo_cs", sf, build)
    from .sources.base import ResourceDescriptor
    from .sources.mongo_source import MongoChangeStreamResource

    res = MongoChangeStreamResource(
        descriptor=ResourceDescriptor(resource_id="orders_cs"),
        path=f"{tmp}/events/*.txt",
    )
    empty = spark.createDataFrame([], "_id bigint, o_totalprice double")
    applied, _pos = res.apply(spark, empty)
    return applied.select(
        F.col("_id").cast("long").alias("_id"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@_register(
    "protobuf_roundtrip_scan",
    """
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def protobuf_roundtrip_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Format fidelity through the jar-free protobuf path: the supplier
    table encoded as a varint-framed protobuf stream, decoded back
    executor-side (`sources/protobuf_format.py`, replacing
    `crates/cdf-format-protobuf/`); values must equal the parquet
    original."""
    import shutil
    import tempfile

    from .sources.protobuf_format import MessageSpec, read_protobuf, write_protobuf

    spec = MessageSpec.from_dict(
        {
            "name": "Supplier",
            "fields": [
                {"name": "s_suppkey", "number": 1, "type": "int64"},
                {"name": "s_name", "number": 2, "type": "string"},
                {"name": "s_nationkey", "number": 3, "type": "int64"},
                {"name": "s_acctbal", "number": 4, "type": "double"},
            ],
        }
    )
    def build(tmp: str) -> None:
        src = _t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        write_protobuf([r.asDict() for r in src.collect()], spec, f"{tmp}/supplier.pb")

    tmp = _session_fixture("pb_rt", sf, build)
    return read_protobuf(spark, f"{tmp}/supplier.pb", spec)


@_register(
    "snapshot_time_travel",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 20000",
)
def snapshot_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot isolation end-to-end: orders committed in two snapshots,
    the query reads the OLDER pin while newer data exists — it must see
    exactly the first commit (`sources/snapshot_table.py`, Iceberg-shaped
    per `crates/cdf-source-iceberg/src/driver.rs:902-1060`)."""
    from .sources.snapshot_table import SnapshotTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        t = SnapshotTable(f"{tmp}/t")
        t.append(o.filter(F.col("o_orderkey") <= 20000))
        t.append(o.filter(F.col("o_orderkey") > 20000))  # newer data the pin must NOT see

    tmp = _session_fixture("snap_tt", sf, build)
    t = SnapshotTable(f"{tmp}/t")
    first = int(t.snapshots()[0]["snapshot_id"])  # oldest-first chain
    return t.read(spark, snapshot_id=first)


@_register(
    "iceberg_time_travel",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900",
)
def iceberg_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time travel over a REAL Apache-Iceberg directory layout
    (version-hint + metadata.json + Avro manifest lists/manifests,
    `sources/iceberg.py`, replacing
    `crates/cdf-source-iceberg/src/driver.rs:902-1060`): three commits
    with deliberately NON-monotone random snapshot ids — the pin at the
    second commit must see commits 1+2 only, which requires the
    parent-ancestry walk (id ordering would misresolve)."""
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    ids = [9_000_000_000_000_000_001, 17, 4_000_000_000_000_000_002]

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=11)
        w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000, snapshot_id=ids[0])
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)),
            timestamp_ms=2000,
            snapshot_id=ids[1],
        )
        w.append(o.filter(F.col("o_orderkey") > 900), timestamp_ms=3000, snapshot_id=ids[2])

    tmp = _session_fixture("ice_tt", sf, build)
    return IcebergTable(f"{tmp}/t").read(spark, snapshot_id=ids[1])


@_register(
    "iceberg_changes_since",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey > 400",
)
def iceberg_changes_since(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental consumption off the Iceberg parent-snapshot ancestry:
    checkpointed at commit 1, the consumer must receive exactly the
    files ADDED by commits 2 and 3 — commit 2's snapshot id is SMALLER
    than commit 1's, so `id > seen` ordering (the bug class the
    ancestry walk replaces) would silently drop it."""
    from .positions import TableSnapshotPosition
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    ids = [8_000_000_000_000_000_001, 23, 3_000_000_000_000_000_002]

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=13)
        w.append(o.filter(F.col("o_orderkey") <= 400), timestamp_ms=1000, snapshot_id=ids[0])
        w.append(
            o.filter((F.col("o_orderkey") > 400) & (F.col("o_orderkey") <= 900)),
            timestamp_ms=2000,
            snapshot_id=ids[1],
        )
        w.append(o.filter(F.col("o_orderkey") > 900), timestamp_ms=3000, snapshot_id=ids[2])

    tmp = _session_fixture("ice_inc", sf, build)
    df, _pos = IcebergTable(f"{tmp}/t").changes_since(
        spark, TableSnapshotPosition(snapshot_id=ids[0])
    )
    return df


@_register(
    "html_boilerplate_strip",
    """
    WITH h AS (
      SELECT doc_id,
        '<html><head><title>Doc ' || doc_id || '</title><style>p { margin: 0; }</style></head><body><script>var d='
          || doc_id || ';</script><h1>' || lang || '</h1><p>' || text
          || ' &amp;lt; &quot;' || source || '&quot; &nbsp;done</p></body></html>' AS html
      FROM documents
    ), c AS (
      SELECT doc_id, trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(regexp_replace(regexp_replace(html,
            '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
            '<[^>]*>', ' ', 'g'),
        '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&nbsp;',' '),'&amp;','&'),
        '\\s+', ' ', 'g')) AS clean_text
      FROM h
    )
    SELECT doc_id, clean_text,
      CASE WHEN length(clean_text) = 0 THEN 0
           ELSE CAST((length(clean_text) - length(replace(clean_text, ' ', ''))) AS BIGINT) + 1
      END AS n_tokens
    FROM c
    """,
)
def html_boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """HTML boilerplate stripping (`operators/normalize.strip_html`) —
    the first pass of every web-crawl curation pipeline: script/style
    elements dropped wholesale, tags removed, core entities decoded
    (&amp; LAST so escaped text is not double-decoded), whitespace
    collapsed. The fixture wraps each document in a deterministic
    HTML template carrying all three hazards (a <style> block, a
    <script> block, and the '&amp;lt;' double-decode trap); the
    oracle replays the identical chain in RE2. Pure regexp built-ins:
    zero-shuffle narrow map under whole-stage codegen."""
    from .operators.normalize import strip_html
    from .operators.text import token_count

    docs = _t(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p { margin: 0; }</style></head><body><script>var d="),
        F.col("doc_id").cast("string"),
        F.lit(";</script><h1>"),
        F.col("lang"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(' &amp;lt; &quot;'),
        F.col("source"),
        F.lit('&quot; &nbsp;done</p></body></html>'),
    )
    cleaned = strip_html(html)
    return docs.select(
        "doc_id",
        cleaned.alias("clean_text"),
        token_count(cleaned).cast("bigint").alias("n_tokens"),
    )


@_register(
    "unicode_nfc_normalize",
    """
    WITH r AS (
      SELECT doc_id, substr(text, 1, 24) ||
        CASE doc_id % 3 WHEN 0 THEN ' cafe' || chr(769)
                        WHEN 1 THEN ' A' || chr(778) || 'vv'
                        ELSE ' caf' || chr(233) END AS raw
      FROM documents
    ), n AS (
      SELECT doc_id, nfc_normalize(raw) AS norm_text,
             CAST(length(raw) AS BIGINT) AS raw_len
      FROM r
    )
    SELECT doc_id, norm_text, raw_len,
           CAST(length(norm_text) AS BIGINT) AS norm_len
    FROM n
    """,
)
def unicode_nfc_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC canonicalization (`operators/normalize.nfc`) —
    required before any byte-identity dedup: decomposed 'e'+U+0301
    and precomposed U+00E9 are the same text in different bytes. The
    fixture appends a decomposed suffix (combining acute / combining
    ring) to two thirds of the corpus and a precomposed one to the
    rest; NFC must compose the former (length shrinks) and fix the
    latter (length unchanged). Spark has no normalization built-in,
    so this is the documented Arrow-batched pandas_udf boundary;
    DuckDB `nfc_normalize` is the exact oracle twin."""
    from .operators.normalize import nfc

    docs = _t(spark, sf, "documents")
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cafe\u0301"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" A\u030avv"))
        .otherwise(F.lit(" caf\u00e9"))
    )
    raw = F.concat(F.substring(F.col("text"), 1, 24), suffix)
    norm = nfc(raw)
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(raw).cast("bigint").alias("raw_len"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


@_register(
    "url_canonicalize_dedup",
    """
    SELECT source || '.example.com' AS host,
           CAST(3 * COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END) AS BIGINT) AS n_canonical
    FROM documents GROUP BY source
    """,
)
def url_canonicalize_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + per-domain dedup
    (`operators/normalize.canonical_url` / `url_host`) — collapse the
    crawl-frontier variants of one page to a single dedup identity:
    tracking params (utm_*, gclid, fbclid, ref) stripped, scheme+host
    lowercased, fragments dropped, trailing slashes normalized. The
    fixture emits THREE raw variants per document (tracking-tagged,
    SHOUTED-host + trailing slash, fragment-tagged — plus a genuinely
    distinct ?page=2 for every fifth doc), so per-host
    countDistinct(canonical) must land on exactly the analytic count
    the oracle computes from the generating formula. One shuffle
    (groupBy host); the canonicalization itself is a narrow map."""
    from .operators.normalize import canonical_url, url_host

    docs = _t(spark, sf, "documents")
    base = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
    )
    v1 = F.concat(base, F.lit("?utm_source=feed&ref=tw"))
    v2 = F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit(".EXAMPLE.COM/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/"),
    )
    v3 = F.when(
        F.col("doc_id") % 5 == 0, F.concat(base, F.lit("?page=2&utm_medium=em"))
    ).otherwise(F.concat(base, F.lit("#section-2")))
    urls = docs.select(F.explode(F.array(v1, v2, v3)).alias("url"))
    return (
        urls.select(
            url_host(F.col("url")).alias("host"),
            canonical_url(F.col("url")).alias("curl"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("curl").alias("n_canonical"),
        )
    )


@_register(
    "orc_source_scan",
    """
    SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def orc_source_scan(spark: SparkSession, sf: str) -> DataFrame:
    """ORC through the files source — the same negotiated scan the
    parquet path runs (`sources/files.FileResource`, format='orc'):
    the fixture round-trips lineitem into a real multi-file ORC
    directory, then a ScanRequest with predicates + projection is
    negotiated under the columnar capability set, so both filters
    reach the ORC reader as PushedFilters and the projection prunes
    the ReadSchema (asserted in test_normalize/test_files ORC tests).
    ORC is Spark-native (spark.read.orc), so the declarative plan is
    identical to parquet's — only the leaf format changes; at 100 TB
    the scan properties (pushdown, pruning, maxPartitionBytes splits)
    carry over unchanged."""
    def build(tmp: str) -> None:
        _t(spark, sf, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
        ).repartition(4).write.mode("overwrite").orc(f"{tmp}/li_orc")

    tmp = _session_fixture("orc_li", sf, build)
    res = FileResource(
        ResourceDescriptor(resource_id="lineitem_orc"), f"{tmp}/li_orc", format="orc"
    )
    df, _plan = res.scan(
        spark,
        ScanRequest(
            "lineitem_orc",
            projection=["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"],
            predicates=[Col("l_quantity") > 45.0, Col("l_returnflag") == "R"],
        ),
    )
    return df


@_register(
    "gopher_quality_filter",
    """
    WITH f AS (
      SELECT doc_id, trim(text) AS t,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) AS BIGINT) + 1
        END AS n_words,
        CAST(length(trim(text)) AS BIGINT) AS n_chars
      FROM documents
    ), g AS (
      SELECT doc_id, n_words,
        round(CASE WHEN n_words > 0
                   THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words
                   ELSE 0.0 END, 4) AS mean_word_len,
        CAST((CASE WHEN contains(' ' || t || ' ', ' the ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' ' || t || ' ', ' a ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' ' || t || ' ', ' and ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' ' || t || ' ', ' of ') THEN 1 ELSE 0 END) AS INTEGER)
          AS n_stopwords_distinct,
        round(CASE WHEN n_words > 0
                   THEN CAST(len(list_filter(list_filter(str_split(t, ' '), w -> length(w) > 0),
                                             w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / n_words
                   ELSE 0.0 END, 6) AS alpha_word_ratio
      FROM f
    ), d AS (
      SELECT doc_id, n_words, mean_word_len, n_stopwords_distinct,
        CASE WHEN NOT (n_words >= 30) THEN 'min_words'
             WHEN NOT (n_words <= 90) THEN 'max_words'
             WHEN NOT (mean_word_len >= 3.9 AND mean_word_len <= 5.1) THEN 'mean_word_len'
             WHEN NOT (n_stopwords_distinct >= 2) THEN 'stopwords'
             WHEN NOT (alpha_word_ratio >= 0.8) THEN 'alpha_words'
             ELSE NULL END AS first_violation
      FROM g
    )
    SELECT doc_id, n_words, mean_word_len, n_stopwords_distinct,
           first_violation IS NULL AS kept, first_violation
    FROM d
    """,
)
def gopher_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style rule-based quality filter
    (`operators/curation.gopher_rules` / `gopher_filter`; Rae et al.
    2021 appendix A1.1): word-count bounds, mean-word-length window,
    distinct-stopword minimum, alphabetic-word ratio — evaluated in a
    FIXED order so every document carries a deterministic disposition
    (kept / first violated rule). Thresholds are tuned to split the
    fixture corpus (word counts 10-99, mean lengths 3.7-5.3), so all
    of min_words/max_words/mean_word_len actually fire. Pure built-in
    arithmetic, zero-shuffle narrow map; the oracle replays the rule
    lattice in ANSI SQL."""
    from .operators.curation import gopher_filter

    return gopher_filter(_t(spark, sf, "documents"))


@_register(
    "quality_clf_filter",
    """
    WITH f AS (
      SELECT doc_id, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
        CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', '')))
          + (length(text) - length(replace(text, ';', ''))) AS n_punct
      FROM documents
    ), g AS (
      SELECT doc_id, n_tokens,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS atl,
        round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS pr,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS sr
      FROM f
    ), z AS (
      SELECT doc_id,
        -1.5 + CAST(n_tokens AS DOUBLE) * 0.02 + atl * 0.35 + sr * 6.0 + pr * (-4.0) AS z
      FROM g
    )
    SELECT doc_id, round(1.0/(1.0 + exp(-z)), 6) AS clf_score,
           round(1.0/(1.0 + exp(-z)), 6) >= 0.75 AS kept
    FROM z
    """,
)
def quality_clf_filter_q(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier-based quality filter
    (`operators/curation.quality_clf_score`) — the model-scoring stage
    (fastText/DCLM-shape) that runs after rule filters: a fixed-weight
    logistic over the deterministic text features, sigmoid computed in
    built-in double arithmetic with a pinned term order so Spark and
    DuckDB produce the identical IEEE result (exp is bit-identical in
    both; intermediates use the features' documented rounding).
    Zero-shuffle narrow map at any corpus size — at 100 TB this is one
    pass fused into the same scan as the rule filter."""
    from .operators.curation import quality_clf_filter

    return quality_clf_filter(_t(spark, sf, "documents"))


@_register(
    "lm_perplexity_scores",
    """
    WITH toks AS (
      SELECT doc_id AS _id, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts),
    lm AS (
      SELECT tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_total + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts, tot
    ),
    agg AS (
      SELECT _id, COUNT(*) AS n_tokens, SUM(lp_unat) AS s
      FROM toks JOIN lm USING (tok) GROUP BY _id
    )
    SELECT _id AS doc_id, n_tokens,
           round(-CAST(s AS DOUBLE)/(CAST(n_tokens AS DOUBLE)*1000000.0), 6) AS nll_nats
    FROM agg
    """,
)
def lm_perplexity_scores_q(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram LM PERPLEXITY quality signal
    (`operators/curation.lm_perplexity_scores`) — the CCNet/Gopher
    curation stage between rule filters and classifier scoring:
    documents ranked by mean negative log-prob of their tokens under
    an add-one-smoothed unigram LM trained on the corpus (CCNet's
    KenLM-perplexity bucketing, jar-free relational analog). Exact
    cross-engine parity comes from the micro-nat integer discipline:
    each token's log-prob is scaled to round(ln*1e6) AS BIGINT before
    aggregation, so per-doc sums are exact integers — immune to float
    summation order across partitions, runs, and engines; DuckDB
    replays the identical pipeline. 2 shuffles (LM build, per-doc agg)
    + 1 broadcast (the vocabulary — fixed-size at any corpus scale),
    zero Python."""
    from .operators.curation import lm_perplexity_scores

    return lm_perplexity_scores(_t(spark, sf, "documents"))


@_register(
    "ccnet_perplexity_buckets",
    """
    WITH toks AS (
      SELECT doc_id AS _id, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts),
    lm AS (
      SELECT tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_total + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts, tot
    ),
    agg AS (
      SELECT _id, COUNT(*) AS n_tokens, SUM(lp_unat) AS s
      FROM toks JOIN lm USING (tok) GROUP BY _id
    ),
    scored AS (
      SELECT _id AS doc_id,
             round(-CAST(s AS DOUBLE)/(CAST(n_tokens AS DOUBLE)*1000000.0), 6) AS nll_nats
      FROM agg
    )
    SELECT d.doc_id, d.lang, sc.nll_nats,
           NTILE(3) OVER (PARTITION BY d.lang ORDER BY sc.nll_nats, d.doc_id) AS ppl_bucket
    FROM documents d JOIN scored sc ON d.doc_id = sc.doc_id
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet's PERPLEXITY BUCKETING: per language, documents split
    into head/middle/tail terciles by LM score (bucket 1 = most
    fluent) — the standard way LM quality becomes a sampling weight
    for training-data mixes (head oversampled, tail dropped or
    down-weighted). Composes `lm_perplexity_scores` with one window
    (NTILE over (lang) partitions, ties broken by doc_id for
    determinism). Adds ONE shuffle on lang to the LM pipeline; at
    100 TB the per-language windows are independent and parallel."""
    from pyspark.sql.window import Window

    from .operators.curation import lm_perplexity_scores

    docs = _t(spark, sf, "documents")
    scores = lm_perplexity_scores(docs).select("doc_id", "nll_nats")
    w = Window.partitionBy("lang").orderBy("nll_nats", "doc_id")
    return (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .select(
            "doc_id",
            "lang",
            "nll_nats",
            F.ntile(3).over(w).alias("ppl_bucket"),
        )
    )


@_register(
    "lm_bigram_perplexity",
    """
    WITH docs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS arr
      FROM documents
    ),
    toks AS (
      SELECT d.doc_id AS _id, u.tok, u.ord
      FROM docs d,
      LATERAL (SELECT unnest(d.arr) AS tok, generate_subscripts(d.arr, 1) AS ord) u
    ),
    seq AS (
      SELECT _id, tok, ord,
             lead(tok) OVER (PARTITION BY _id ORDER BY ord) AS w2
      FROM toks
    ),
    trans AS (SELECT _id, tok AS w1, w2 FROM seq WHERE w2 IS NOT NULL),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM uni),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM trans GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    lm2 AS (
      SELECT c12.w1, c12.w2,
             CAST(round((ln(c12 + 1.0) - ln(CAST(c1.c1 + tot.v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp2
      FROM c12 JOIN c1 USING (w1) CROSS JOIN tot
    ),
    lm1 AS (
      SELECT tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_total + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp1
      FROM uni CROSS JOIN tot
    ),
    first AS (
      SELECT s._id, SUM(l.lp1) AS s1
      FROM seq s JOIN lm1 l ON s.tok = l.tok WHERE s.ord = 1 GROUP BY s._id
    ),
    tr AS (
      SELECT t._id, COUNT(*) AS n_trans, SUM(l.lp2) AS s2
      FROM trans t JOIN lm2 l ON t.w1 = l.w1 AND t.w2 = l.w2 GROUP BY t._id
    )
    SELECT f._id AS doc_id,
           COALESCE(tr.n_trans, 0) + 1 AS n_tokens,
           round(-CAST(f.s1 + COALESCE(tr.s2, 0) AS DOUBLE)
                 / (CAST(COALESCE(tr.n_trans, 0) + 1 AS DOUBLE) * 1000000.0), 6) AS nll_nats
    FROM first f LEFT JOIN tr ON f._id = tr._id
    """,
)
def lm_bigram_perplexity_q(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram LM perplexity
    (`operators/curation.lm_bigram_perplexity_scores`): P(w2|w1) with
    add-one smoothing over the corpus-trained transition table, first
    token under the unigram LM — word ORDER now carries signal, the
    n-gram step toward CCNet's 5-gram KenLM. Exactness via the same
    micro-nat integer sums; the transition-scoring join is a plain
    shuffle equi-join (bigram tables grow with the corpus and must not
    broadcast — the deploy lever at 100 TB is a top-K bigram cap with
    backoff). The oracle replays the identical pipeline including the
    lead() pair construction."""
    from .operators.curation import lm_bigram_perplexity_scores

    return lm_bigram_perplexity_scores(_t(spark, sf, "documents"))


@_register(
    "lm_index_incremental",
    """
    WITH toks AS (
      SELECT doc_id AS _id, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts),
    lm AS (
      SELECT tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_total + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts, tot
    ),
    agg AS (
      SELECT _id, COUNT(*) AS n_tokens, SUM(lp_unat) AS s
      FROM toks JOIN lm USING (tok) GROUP BY _id
    )
    SELECT _id AS doc_id, n_tokens,
           round(-CAST(s AS DOUBLE)/(CAST(n_tokens AS DOUBLE)*1000000.0), 6) AS nll_nats
    FROM agg
    """,
)
def lm_index_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL persisted LM (`operators/curation.LMIndex`) — the
    growing-corpus shape: the corpus folds in through THREE
    incremental `update()` batches (each O(batch) token work + an
    O(vocab) merge whose cost is bounded by the natural-language
    vocabulary, with a version-directory swap that survives crashes),
    then every document scores against the stored LM with zero corpus
    work. Because add-one counts are exact integers, the fully-folded
    index is BIT-IDENTICAL to the one-shot corpus LM — so the oracle
    is the same relational recompute, and any drift in the merge
    (lost batch, double count, stale version read) hash-mismatches."""
    from .operators.curation import LMIndex

    def build(tmp: str) -> None:
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        idx = LMIndex(f"{tmp}/lm")
        third = F.abs(F.xxhash64("doc_id")) % 3
        for i in range(3):
            idx.update(spark, docs.filter(third == i))

    tmp = _session_fixture("lm_index", sf, build)
    return LMIndex(f"{tmp}/lm").score(
        spark, _t(spark, sf, "documents").select("doc_id", "text")
    )


def _bpe_oracle_chain(n_merges: int) -> str:
    """Chained-CTE replay of the BPE training loop (one stage per
    merge): pair counts from list_zip of adjacent symbols, argmax by
    (count DESC, pair ASC), merge applied by the SAME literal
    left-to-right replace the engine uses. Returns the CTE text up to
    and including w{n_merges}."""
    parts = [
        """w0 AS MATERIALIZED (
      SELECT word, '(' || array_to_string(str_split(word, ''), ')(') || ')' AS w,
             CAST(cnt AS BIGINT) AS c
      FROM (
        SELECT t.tok AS word, COUNT(*) AS cnt
        FROM documents, UNNEST(str_split(text, ' ')) AS t(tok)
        WHERE regexp_matches(t.tok, '^[a-z0-9]+$')
        GROUP BY t.tok
      )
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""s{i} AS MATERIALIZED (
      SELECT a, b, CAST(SUM(c) AS BIGINT) AS cnt FROM (
        SELECT c, p[1] AS a, p[2] AS b FROM (
          SELECT c, UNNEST(list_zip(list_slice(sy, 1, len(sy)-1), list_slice(sy, 2, len(sy)))) AS p
          FROM (SELECT c, str_split(substr(w, 2, len(w)-2), ')(') AS sy FROM w{i})
        )
      ) GROUP BY a, b
    )"""
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT a, b, cnt FROM s{i} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""w{i + 1} AS MATERIALIZED (
      SELECT word, replace(w, '(' || bb.a || ')(' || bb.b || ')', '(' || bb.a || bb.b || ')') AS w, c
      FROM w{i}, b{i} AS bb
    )"""
        )
    return ",\n    ".join(parts)


_BPE_N_MERGES = 8

_BPE_MERGES_ORACLE = (
    "WITH "
    + _bpe_oracle_chain(_BPE_N_MERGES)
    + "\n    SELECT * FROM (\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i + 1} AS step, a AS lhs, b AS rhs, a || b AS merged, cnt FROM b{i}"
        for i in range(_BPE_N_MERGES)
    )
    + "\n    )"
)

_BPE_SEG_ORACLE = (
    "WITH "
    + _bpe_oracle_chain(_BPE_N_MERGES)
    + f"""
    SELECT word,
           array_to_string(str_split(substr(w, 2, len(w)-2), ')('), ' ') AS segmented
    FROM w{_BPE_N_MERGES}
    """
)


@_register("bpe_learn_merges", _BPE_MERGES_ORACLE)
def bpe_learn_merges_q(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE TOKENIZER TRAINING (`operators/bpe.learn_bpe`,
    Sennrich et al. 2016) — the corpus collapses to the distinct-word
    table in ONE corpus-scale shuffle; each of the 8 merge steps is a
    pair-count aggregation over that table plus a 1-row argmax collect
    (bounded driver state: n_merges rows) plus a narrow replace.
    Merge application is literal left-to-right replace over
    paren-wrapped symbols — byte-identical semantics in Spark, DuckDB
    and Python (verified "(a)(a)(a)" -> "(aa)(a)" in all three), so
    the oracle replays the ENTIRE training loop stage by stage: a
    wrong pair count, a wrong tie-break, or a wrong merge application
    at ANY step diverges every later step and hash-mismatches."""
    from .operators.bpe import bpe_merges_df, learn_bpe

    # batched-exact training (r14): identical merges, fewer driver rounds
    merges = learn_bpe(
        _t(spark, sf, "documents"), n_merges=_BPE_N_MERGES, batch=_BPE_N_MERGES
    )
    return bpe_merges_df(spark, merges)


@_register("bpe_word_segmentation", _BPE_SEG_ORACLE)
def bpe_word_segmentation_q(spark: SparkSession, sf: str) -> DataFrame:
    """BPE INFERENCE with the corpus-trained merges
    (`operators/bpe.segmentation`): every distinct corpus word
    segmented by the 8 learned merges applied in training order
    (chained narrow replaces — BPE's exact inference rule). The
    oracle re-trains AND re-segments in SQL; value equality pins both
    the model and its application."""
    from .operators.bpe import segmentation

    return segmentation(_t(spark, sf, "documents"), n_merges=_BPE_N_MERGES)


@_register("bpe_fast_apply_segmentation", _BPE_SEG_ORACLE)
def bpe_fast_apply_segmentation_q(spark: SparkSession, sf: str) -> DataFrame:
    """BPE inference through the REAL-VOCAB kernel
    (`operators/bpe.apply_bpe_fast`, r11): merge ranks broadcast into
    one vectorized mapInPandas that segments each word by iterative
    lowest-rank merging — the inference loop every production
    tokenizer runs, with O(1) plan size in n_merges (the chained-
    replace twin nests one expression per merge and cannot carry a
    30k-merge model). Value-gated against the SAME SQL replay oracle
    as `bpe_word_segmentation`: the two apply algorithms are provably
    equivalent (a pair containing a merged symbol is always learned
    later, so one LTR pass per rank == lowest-rank-first), and this
    entry pins that equivalence end-to-end on the corpus-trained
    model."""
    from .operators.bpe import apply_bpe_fast, corpus_words, learn_bpe

    docs = _t(spark, sf, "documents")
    # batched-exact training (r14, guide §5.2): batch=K collapses the
    # 8 sequential argmax rounds into ~2 pairwise-independent-merge
    # rounds with IDENTICAL merges (the _exact_batch property gate),
    # cutting driver round-trips; the oracle replays the same chain
    merges = learn_bpe(docs, n_merges=_BPE_N_MERGES, batch=_BPE_N_MERGES)
    return apply_bpe_fast(corpus_words(docs).select("word"), merges)


_BPE_DOC_COUNT_ORACLE = (
    "WITH "
    + _bpe_oracle_chain(_BPE_N_MERGES)
    + f""",
    wn AS MATERIALIZED (
      SELECT word, len(str_split(substr(w, 2, len(w)-2), ')(')) AS n_sym FROM w{_BPE_N_MERGES}
    ),
    toks AS (
      SELECT doc_id, t.tok FROM documents, UNNEST(str_split(text, ' ')) AS t(tok)
      WHERE regexp_matches(t.tok, '^[a-z0-9]+$')
    )
    SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n.n_sym) AS BIGINT) AS n_bpe_tokens
    FROM toks JOIN wn n ON toks.tok = n.word
    GROUP BY doc_id
    """
)


@_register("bpe_doc_token_counts", _BPE_DOC_COUNT_ORACLE)
def bpe_doc_token_counts_q(spark: SparkSession, sf: str) -> DataFrame:
    """TOKENIZER-AWARE token counting — the number every packing /
    cost / mixing decision actually needs is tokens under the REAL
    tokenizer, not whitespace words: each doc's count under the
    corpus-trained 8-merge BPE. The segmentation lives on the
    distinct-word table (small), so the per-doc count is one explode +
    one BROADCAST join + one per-doc aggregation — the corpus never
    joins against itself. Oracle replays training AND the counting
    join in SQL."""
    from .operators.bpe import apply_bpe, corpus_words, learn_bpe

    docs = _t(spark, sf, "documents")
    # batched-exact training (r14, guide §5.2): batch=K collapses the
    # 8 sequential argmax rounds into ~2 pairwise-independent-merge
    # rounds with IDENTICAL merges (the _exact_batch property gate),
    # cutting driver round-trips; the oracle replays the same chain
    merges = learn_bpe(docs, n_merges=_BPE_N_MERGES, batch=_BPE_N_MERGES)
    seg = apply_bpe(corpus_words(docs).select("word"), merges).select(
        "word", F.size(F.split("segmented", " ")).alias("n_sym")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    return (
        toks.join(F.broadcast(seg), on="word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


@_register(
    "lm_perplexity_by_lang",
    """
    WITH toks AS (
      SELECT doc_id AS _id, lang AS _lang, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT _lang, tok, COUNT(*) AS c FROM toks GROUP BY _lang, tok),
    tot AS (SELECT _lang, SUM(c) AS n_total, COUNT(*) AS v FROM counts GROUP BY _lang),
    lm AS (
      SELECT c._lang, c.tok,
             CAST(round((ln(c.c + 1.0) - ln(CAST(t.n_total + t.v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts c JOIN tot t ON c._lang = t._lang
    ),
    agg AS (
      SELECT tk._id, tk._lang, COUNT(*) AS n_tokens, SUM(l.lp_unat) AS s
      FROM toks tk JOIN lm l ON tk._lang = l._lang AND tk.tok = l.tok
      GROUP BY tk._id, tk._lang
    )
    SELECT _id AS doc_id, _lang AS lang, n_tokens,
           round(-CAST(s AS DOUBLE)/(CAST(n_tokens AS DOUBLE)*1000000.0), 6) AS nll_nats
    FROM agg
    """,
)
def lm_perplexity_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """PER-LANGUAGE LM perplexity
    (`operators/curation.lm_perplexity_scores_by_lang`) — CCNet's
    actual configuration: one LM per language, each document scored
    under its own language's model (cross-language scoring is the
    classic curation bug: fluent French reads as noise under an
    English LM). Counts key on (lang, token); per-language add-one
    denominators compute row-wise from the broadcast totals. Same
    micro-nat exactness; same shuffle shape as the global LM."""
    from .operators.curation import lm_perplexity_scores_by_lang

    return lm_perplexity_scores_by_lang(_t(spark, sf, "documents"))


@_register(
    "image_dhash_near_dups",
    """
    WITH ids AS (
      SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id < 80
      UNION ALL
      SELECT CAST(doc_id + 1000 AS BIGINT) FROM documents WHERE doc_id < 40
    ),
    dims AS (
      SELECT id, CASE WHEN id >= 1000 THEN id - 1000 ELSE id END AS src,
             8 + (CASE WHEN id >= 1000 THEN id - 1000 ELSE id END) % 23 AS w,
             8 + (CASE WHEN id >= 1000 THEN id - 1000 ELSE id END) % 17 AS h
      FROM ids
    ),
    grid AS (
      SELECT d.id, d.src, d.w, d.h, dy.range AS dy, dx.range AS dx,
             (dx.range * d.w) // 9 AS sx, (dy.range * d.h) // 8 AS sy
      FROM dims d CROSS JOIN range(0, 8) dy CROSS JOIN range(0, 9) dx
    ),
    gray AS (
      SELECT id, dy, dx,
        (299 * (CASE WHEN id >= 1000 THEN least(255, (2654435761*sx + 40503*sy + 97*src) % 256 + 8)
                     ELSE (2654435761*sx + 40503*sy + 97*src) % 256 END)
       + 587 * (CASE WHEN id >= 1000 THEN least(255, (2246822519*sx + 3266489917*sy + 131*src) % 256 + 8)
                     ELSE (2246822519*sx + 3266489917*sy + 131*src) % 256 END)
       + 114 * (CASE WHEN id >= 1000 THEN least(255, (668265263*sx + 374761393*sy + 193*src) % 256 + 8)
                     ELSE (668265263*sx + 374761393*sy + 193*src) % 256 END)) // 1000 AS g
      FROM grid
    ),
    bits AS (
      SELECT a.id, a.dy, a.dx, CASE WHEN b.g > a.g THEN '1' ELSE '0' END AS bit
      FROM gray a JOIN gray b ON a.id = b.id AND a.dy = b.dy AND b.dx = a.dx + 1
      WHERE a.dx < 8
    ),
    hashes AS (
      SELECT id, string_agg(bit, '' ORDER BY dy, dx) AS dhash FROM bits GROUP BY id
    ),
    banded AS (
      SELECT id, dhash, b.range AS band,
             substr(dhash, CAST(b.range*16 + 1 AS INT), 16) AS bv
      FROM hashes CROSS JOIN range(0, 4) b
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.dhash AS ha, b.dhash AS hb
      FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
    )
    SELECT id_a, id_b,
           CAST(len([i for i in range(1,65)
                     if substr(ha, CAST(i AS INT), 1) <> substr(hb, CAST(i AS INT), 1)]) AS INT) AS hamming
    FROM pairs
    WHERE len([i for i in range(1,65)
               if substr(ha, CAST(i AS INT), 1) <> substr(hb, CAST(i AS INT), 1)]) <= 6
    """,
)
def image_dhash_near_dups_q(spark: SparkSession, sf: str) -> DataFrame:
    """IMAGE near-duplicate detection over REAL decoded pixels — the
    multimodal twin of SimHash text dedup and a first-class
    training-data op (web-scale image corpora are full of re-encoded /
    brightness-shifted copies): perceptual dHash (integer grayscale,
    NEAREST 9x8 resize, adjacent-gradient bits) computed from decoded
    BMP bytes in one narrow mapInPandas pass, then a banded Hamming
    join (4 x 16-bit bands, one shuffle, no all-pairs) with exact
    Hamming verification. The fixture plants brightness-shifted copies
    (min(255, v+8) per channel — most gradient signs survive, clip-
    zone bits flip) of 40 images among 80 bases; the oracle recomputes
    the ENTIRE path — decode-equivalent grayscale from the closed-form
    pixels, resize index math, bit extraction, banding, Hamming — in
    SQL, so a decoder bug, a resize off-by-one, or a band split error
    all hash-mismatch."""
    from .operators.multimodal import (
        image_dhash,
        image_dhash_near_dups,
        synthetic_bmp_near_dup_table,
    )

    docs = _t(spark, sf, "documents")
    ids = (
        docs.filter(F.col("doc_id") < 80)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .unionByName(
            docs.filter(F.col("doc_id") < 40).select(
                (F.col("doc_id") + 1000).cast("long").alias("doc_id")
            )
        )
    )
    imgs = synthetic_bmp_near_dup_table(ids)
    return image_dhash_near_dups(image_dhash(imgs))


@_register(
    "audio_envelope_near_dups",
    """
    WITH ids AS (
      SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id < 80
      UNION ALL
      SELECT CAST(doc_id + 1000 AS BIGINT) FROM documents WHERE doc_id < 40
    ),
    meta AS (
      SELECT id, CASE WHEN id >= 1000 THEN id - 1000 ELSE id END AS src,
             400 + (CASE WHEN id >= 1000 THEN id - 1000 ELSE id END) % 700 AS n
      FROM ids
    ),
    sig AS (
      SELECT m.id, (65 * t.range + 64) // m.n AS f,
        CASE WHEN m.id >= 1000 THEN greatest(-32768, least(32767,
               CAST(floor(CAST(((t.range*t.range*(7 + m.src % 13)
                                 + t.range*(11 + m.src % 17)
                                 + 97*m.src) % 4001 - 2000) * 9 AS DOUBLE) / 8.0) AS BIGINT)))
             ELSE (t.range*t.range*(7 + m.src % 13)
                   + t.range*(11 + m.src % 17)
                   + 97*m.src) % 4001 - 2000 END AS s
      FROM meta m CROSS JOIN range(0, 1100) t
      WHERE t.range < m.n
    ),
    energy AS (
      SELECT id, f, SUM(abs(s)) // greatest(1, COUNT(*)) AS e
      FROM sig GROUP BY id, f
    ),
    bits AS (
      SELECT a.id, a.f, CASE WHEN b.e > a.e THEN '1' ELSE '0' END AS bit
      FROM energy a JOIN energy b ON a.id = b.id AND b.f = a.f + 1
      WHERE a.f < 64
    ),
    hashes AS (
      SELECT id, string_agg(bit, '' ORDER BY f) AS dhash FROM bits GROUP BY id
    ),
    banded AS (
      SELECT id, dhash, b.range AS band,
             substr(dhash, CAST(b.range*16 + 1 AS INT), 16) AS bv
      FROM hashes CROSS JOIN range(0, 4) b
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.dhash AS ha, b.dhash AS hb
      FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
    )
    SELECT id_a, id_b,
           CAST(len([i for i in range(1,65)
                     if substr(ha, CAST(i AS INT), 1) <> substr(hb, CAST(i AS INT), 1)]) AS INT) AS hamming
    FROM pairs
    WHERE len([i for i in range(1,65)
               if substr(ha, CAST(i AS INT), 1) <> substr(hb, CAST(i AS INT), 1)]) <= 6
    """,
)
def audio_envelope_near_dups_q(spark: SparkSession, sf: str) -> DataFrame:
    """AUDIO near-duplicate detection over REAL decoded WAV bytes —
    completes perceptual dedup across all three modalities (SimHash
    text, dHash image, envelope-hash audio). The hash is dHash's idea
    on the loudness envelope: decode the WAV in one narrow mapInPandas
    pass, 65 integer-boundary frames, per-frame mean |amplitude|
    (pure integer math), bit f = energy rises into frame f+1. Uniform
    gain re-levelling (the audio analog of a brightness shift — same
    recording, different mastering level) scales all frame energies
    together so the comparison bits survive; time-structure changes
    scramble them. Pairs come from the SAME banded Hamming matcher the
    image path uses (4 x 16-bit bands, one shuffle, no all-pairs).
    The fixture plants 9/8-gain copies of 40 clips among 80 hash-
    diverse bases; the oracle recomputes the ENTIRE path — closed-form
    signal, floor(s*9/8) gain (DuckDB // truncates toward zero on
    negatives, so the oracle uses floor() to match numpy), frame
    boundary index math, integer energies, bits, banding, Hamming —
    in SQL. The engine finds exactly the 40 planted pairs, zero false
    positives, max Hamming 1."""
    from .operators.multimodal import (
        audio_envelope_hash,
        banded_hamming_near_dups,
        synthetic_wav_near_dup_table,
    )

    docs = _t(spark, sf, "documents")
    ids = (
        docs.filter(F.col("doc_id") < 80)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .unionByName(
            docs.filter(F.col("doc_id") < 40).select(
                (F.col("doc_id") + 1000).cast("long").alias("doc_id")
            )
        )
    )
    wavs = synthetic_wav_near_dup_table(ids)
    return banded_hamming_near_dups(audio_envelope_hash(wavs))


@_register(
    "c4_line_filter_docs",
    """
    WITH m AS (
      SELECT doc_id,
        substr(text, 1, 40) || '.' || chr(10)
          || 'Please enable JavaScript to view this page' || chr(10)
          || substr(text, 41, 30) || chr(10)
          || CASE WHEN doc_id % 4 = 0 THEN 'lorem ipsum dolor sit amet consectetur.'
                  ELSE substr(text, 71, 40) || '!' END || chr(10)
          || CASE WHEN doc_id % 3 = 0 THEN 'We use cookies. Accept our policy now ok.'
                  ELSE 'short line.' END AS multitext
      FROM documents
    ), k AS (
      SELECT doc_id, multitext,
        list_filter(str_split(multitext, chr(10)), l ->
          regexp_matches(trim(l), '[.!?"]$')
          AND len(list_filter(str_split(trim(l), ' '), w -> length(w) > 0)) >= 5
          AND NOT contains(lower(l), 'javascript')
          AND NOT contains(lower(l), 'lorem ipsum')
          AND NOT contains(lower(l), 'cookie')) AS kept
      FROM m
    )
    SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_lines_kept,
           CAST(len(str_split(multitext, chr(10))) AS BIGINT) AS n_lines_total
    FROM k
    """,
)
def c4_line_filter_docs(spark: SparkSession, sf: str) -> DataFrame:
    """C4 line-level cleanup (`operators/normalize.c4_line_filter`;
    Raffel et al. 2020 §2.2): terminal-punctuation requirement,
    per-line minimum word count, banned boilerplate phrases. The
    fixture synthesizes a 5-line page per document carrying each
    hazard class (an enable-JavaScript notice, a no-terminal-punct
    fragment, a lorem-ipsum placeholder on every 4th doc, a
    cookie-notice / too-short line) so every rule demonstrably fires;
    the oracle replays the identical list_filter predicates. Pure
    higher-order-function expressions — zero shuffle, zero Python."""
    from .operators.normalize import c4_line_filter

    docs = _t(spark, sf, "documents")
    nl = F.lit("\n")
    multitext = F.concat(
        F.substring(F.col("text"), 1, 40), F.lit("."), nl,
        F.lit("Please enable JavaScript to view this page"), nl,
        F.substring(F.col("text"), 41, 30), nl,
        F.when(F.col("doc_id") % 4 == 0, F.lit("lorem ipsum dolor sit amet consectetur."))
         .otherwise(F.concat(F.substring(F.col("text"), 71, 40), F.lit("!"))), nl,
        F.when(F.col("doc_id") % 3 == 0, F.lit("We use cookies. Accept our policy now ok."))
         .otherwise(F.lit("short line.")),
    )
    r = c4_line_filter(multitext)
    return docs.select(
        "doc_id",
        r["clean_text"].alias("clean_text"),
        r["n_lines_kept"].alias("n_lines_kept"),
        r["n_lines_total"].alias("n_lines_total"),
    )


@_register(
    "llm_curation_pipeline",
    """
    WITH f AS (
      SELECT doc_id, lang, text, trim(text) AS t, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) AS BIGINT) + 1
        END AS n_words,
        CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', '')))
          + (length(text) - length(replace(text, ';', ''))) AS n_punct
      FROM documents
    ), g AS (
      SELECT doc_id, lang, text, n_words,
        round(CASE WHEN n_words > 0 THEN CAST(length(t) - (n_words - 1) AS DOUBLE)/n_words ELSE 0.0 END, 4) AS mwl,
        CAST((CASE WHEN contains(' '||t||' ', ' the ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' '||t||' ', ' a ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' '||t||' ', ' and ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' '||t||' ', ' of ') THEN 1 ELSE 0 END) AS INTEGER) AS n_sw,
        round(CASE WHEN n_words > 0
                   THEN CAST(len(list_filter(list_filter(str_split(t, ' '), w -> length(w) > 0),
                                             w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)/n_words
                   ELSE 0.0 END, 6) AS alpha_ratio,
        round(CASE WHEN n_words > 0 THEN CAST(length(t) - (n_words - 1) AS DOUBLE)/n_words ELSE 0.0 END, 4) AS atl,
        round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS pr,
        round(CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE)/n_words ELSE 0.0 END, 6) AS sr
      FROM f
    ), kept AS (
      SELECT doc_id, lang, text, n_words
      FROM g
      WHERE n_words >= 30 AND n_words <= 90
        AND mwl >= 3.9 AND mwl <= 5.1
        AND n_sw >= 2 AND alpha_ratio >= 0.8
        AND round(1.0/(1.0 + exp(-(-1.5 + CAST(n_words AS DOUBLE) * 0.02 + atl * 0.35 + sr * 6.0 + pr * (-4.0)))), 6) >= 0.75
    ), ded AS (
      SELECT doc_id, lang, n_words
      FROM kept
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS total_tokens
    FROM ded GROUP BY lang
    """,
)
def llm_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed modern curation pipeline: Gopher rule filter →
    classifier filter → exact dedup (md5 fingerprint, keep-min-doc_id)
    → per-language token accounting — the budget table a training run
    is provisioned from. All quality predicates are narrow expressions
    fused into ONE scan pass (no self-joins: `gopher_rules` and
    `quality_clf_score` are column expressions over the same row);
    dedup is the single shuffle (fingerprint window), the final
    per-lang agg rides map-side combine. At 100 TB: one data pass +
    one dedup shuffle, which is the floor for this pipeline."""
    from .operators.curation import gopher_rules, quality_clf_score
    from .operators.text import token_count

    docs = _t(spark, sf, "documents")
    r = gopher_rules(F.col("text"))
    keep = (
        r["rule_min_words"] & r["rule_max_words"] & r["rule_mean_word_len"]
        & r["rule_stopwords"] & r["rule_alpha_words"]
        & (quality_clf_score(F.col("text")) >= 0.75)
    )
    kept = docs.filter(keep)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
    ded = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return ded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
    )


@_register(
    "llm_curation_pipeline_v2",
    """
    WITH toksrc AS (
      SELECT doc_id AS _id, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toksrc GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts),
    lm AS (
      SELECT tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_total + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts, tot
    ),
    lmscore AS (
      SELECT _id AS doc_id,
             round(-CAST(SUM(lp_unat) AS DOUBLE)/(CAST(COUNT(*) AS DOUBLE)*1000000.0), 6) AS nll_nats
      FROM toksrc JOIN lm USING (tok) GROUP BY _id
    ),
    buckets AS (
      SELECT d.doc_id,
             NTILE(3) OVER (PARTITION BY d.lang ORDER BY sc.nll_nats, d.doc_id) AS ppl_bucket
      FROM documents d JOIN lmscore sc ON d.doc_id = sc.doc_id
    ),
    f AS (
      SELECT doc_id, lang, text, trim(text) AS t, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) AS BIGINT) + 1
        END AS n_words,
        CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', '')))
          + (length(text) - length(replace(text, ';', ''))) AS n_punct
      FROM documents
    ), g AS (
      SELECT doc_id, lang, text, n_words,
        round(CASE WHEN n_words > 0 THEN CAST(length(t) - (n_words - 1) AS DOUBLE)/n_words ELSE 0.0 END, 4) AS mwl,
        CAST((CASE WHEN contains(' '||t||' ', ' the ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' '||t||' ', ' a ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' '||t||' ', ' and ') THEN 1 ELSE 0 END)
           + (CASE WHEN contains(' '||t||' ', ' of ') THEN 1 ELSE 0 END) AS INTEGER) AS n_sw,
        round(CASE WHEN n_words > 0
                   THEN CAST(len(list_filter(list_filter(str_split(t, ' '), w -> length(w) > 0),
                                             w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)/n_words
                   ELSE 0.0 END, 6) AS alpha_ratio,
        round(CASE WHEN n_words > 0 THEN CAST(length(t) - (n_words - 1) AS DOUBLE)/n_words ELSE 0.0 END, 4) AS atl,
        round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS pr,
        round(CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE)/n_words ELSE 0.0 END, 6) AS sr
      FROM f
    ), kept AS (
      SELECT g.doc_id, g.lang, g.text, g.n_words
      FROM g JOIN buckets b ON g.doc_id = b.doc_id
      WHERE n_words >= 30 AND n_words <= 90
        AND mwl >= 3.9 AND mwl <= 5.1
        AND n_sw >= 2 AND alpha_ratio >= 0.8
        AND round(1.0/(1.0 + exp(-(-1.5 + CAST(n_words AS DOUBLE) * 0.02 + atl * 0.35 + sr * 6.0 + pr * (-4.0)))), 6) >= 0.75
        AND b.ppl_bucket <= 2
    ), ded AS (
      SELECT doc_id, lang, n_words
      FROM kept
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS total_tokens
    FROM ded GROUP BY lang
    """,
)
def llm_curation_pipeline_v2(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL modern curation stack in one composed pipeline (r10):
    Gopher rule filter -> classifier filter -> CCNet LM-perplexity
    tercile gate (per-language tail bucket dropped) -> exact dedup ->
    per-language token accounting. This is the rules+model+LM
    composition the production pipelines (CCNet, Gopher, DCLM) run:
    rules catch structural garbage, the classifier ranks form, the LM
    catches fluent-looking token soup the other two pass. Plan shape:
    the rule/classifier predicates stay fused in one scan pass; the
    LM adds its 2 aggregation shuffles + the broadcast vocabulary;
    the tercile gate is one window on lang; dedup is one fingerprint
    shuffle — at 100 TB the data passes stay O(1) and every shuffle
    is on a bounded or well-distributed key."""
    from .operators.curation import gopher_rules, lm_perplexity_scores, quality_clf_score
    from .operators.text import token_count

    docs = _t(spark, sf, "documents")
    scores = lm_perplexity_scores(docs).select("doc_id", "nll_nats")
    wb = Window.partitionBy("lang").orderBy("nll_nats", "doc_id")
    buckets = (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .select("doc_id", F.ntile(3).over(wb).alias("ppl_bucket"))
    )
    r = gopher_rules(F.col("text"))
    keep = (
        r["rule_min_words"] & r["rule_max_words"] & r["rule_mean_word_len"]
        & r["rule_stopwords"] & r["rule_alpha_words"]
        & (quality_clf_score(F.col("text")) >= 0.75)
    )
    kept = docs.filter(keep).join(buckets, "doc_id").filter(F.col("ppl_bucket") <= 2)
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
    ded = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return ded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
    )


@_register(
    "iceberg_dest_pos_merge",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 400 OR o_orderkey > 900
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def iceberg_dest_pos_merge(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE with merge_mode='position' (`package/iceberg_dest.py`) —
    the commit shape Spark's and Trino's MERGE INTO write: victims
    located at write time by a null-safe semi-join of the current
    snapshot (key-pruned scan with row addresses) against the
    broadcast batch keys, positional-delete files written by the
    EXECUTORS, then ONE 'overwrite' snapshot carrying deletes + the
    batch's data files. Same relational result as the equality-mode
    twin (`iceberg_dest_upsert`) — the oracle is identical — but reads
    resolve a broadcast (file,pos) anti-join instead of per-key
    equality matching, and RewritePositionDeleteFiles compacts the
    accreted delete files. The fixture asserts the commit REALLY is
    positional (>=1 pos-delete file, zero equality entries)."""
    from .package import PackageBuilder
    from .package.iceberg_dest import IcebergDestination
    from .sources.base import WriteDisposition
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = IcebergDestination(
            f"{tmp}/t", merge_keys=["o_orderkey"], merge_mode="position"
        )
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_pm")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        batch = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") <= 400) | (F.col("o_orderkey") > 900)
            ).withColumn("o_totalprice", F.lit(-1.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified):
            raise RuntimeError("iceberg commit receipt failed verification")
        t = IcebergTable(f"{tmp}/t")
        sid = t.current_snapshot_id()
        if not t.delete_files_for_snapshot(sid):
            raise RuntimeError("position merge wrote no positional-delete files")
        if t._eq_delete_entries(sid):
            raise RuntimeError("position merge leaked equality-delete entries")

    tmp = _session_fixture("ice_dest_pm", sf, build)
    return IcebergDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "hudi_dest_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 400 OR o_orderkey > 900
    )
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def hudi_dest_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi as a DESTINATION (`package/hudi_dest.py`) — completes the
    open-table-format destination trio on the same commit/verify
    protocol: APPEND opens new file groups; MERGE is the canonical
    copy-on-write UPSERT (updates routed to the group holding their
    key, that group rewritten as a new version in ONE distributed
    job partitioned by file id; inserts open a new group; untouched
    groups stay live un-rewritten — write amplification is O(touched
    groups)). The query returns the table as any Hudi CoW reader
    resolves it (newest instant per group); the oracle recomputes the
    merge relationally."""
    from .package import PackageBuilder
    from .package.hudi_dest import HudiDestination
    from .sources.base import WriteDisposition

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = HudiDestination(f"{tmp}/t", merge_keys=["o_orderkey"])
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_hu")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        batch = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") <= 400) | (F.col("o_orderkey") > 900)
            ).withColumn("o_totalprice", F.lit(-1.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified):
            raise RuntimeError("hudi commit receipt failed verification")

    tmp = _session_fixture("hudi_dest_up", sf, build)
    return HudiDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "hudi_mor_dest_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 400 OR (o_orderkey > 900 AND o_orderkey <= 1100)
    ),
    batch2 AS (
      SELECT o_orderkey, o_custkey, -2.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 100
    ),
    m1 AS (
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
      UNION ALL SELECT * FROM batch
    )
    SELECT * FROM m1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch2)
    UNION ALL
    SELECT * FROM batch2
    """,
)
def hudi_mor_dest_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MERGE-ON-READ as a DESTINATION
    (`package/hudi_mor_dest.py`) — the write path that makes streaming
    upsert ingest O(batch) instead of O(touched groups rewritten)
    (r8 verdict item 4): each MERGE appends one Avro log block file
    per touched file group (bucket-index routing — fileId is a pure
    function of the record key, zero table reads per batch); the
    rewrite debt is paid ONCE by compaction on the maintenance
    autopilot. Two chained merges here land as log appends over the
    initial base load; the query returns the SNAPSHOT read (base +
    logs merged, latest instant per key wins) and the oracle
    recomputes both merges relationally — a lost log block, a wrong
    merge order, or a leaked pre-update row cannot hash-match."""
    from .package import PackageBuilder
    from .package.hudi_mor_dest import HudiMorDestination
    from .sources.base import WriteDisposition

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = HudiMorDestination(f"{tmp}/t", record_key="o_orderkey")
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_mor")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        batch = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") <= 400)
                | ((F.col("o_orderkey") > 900) & (F.col("o_orderkey") <= 1100))
            ).withColumn("o_totalprice", F.lit(-1.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        batch2 = builder.build(
            admitted=o.filter(F.col("o_orderkey") <= 100).withColumn(
                "o_totalprice", F.lit(-2.0)
            )
        )
        r3 = dest.verify(
            spark, dest.commit(spark, batch2, WriteDisposition.MERGE), batch2
        )
        if not (r1.verified and r2.verified and r3.verified):
            raise RuntimeError("hudi mor commit receipt failed verification")
        # the MoR contract itself: the merges appended logs, no base
        # rewritten after the initial load
        from pathlib import Path as _P

        logs = [p for p in _P(f"{tmp}/t").rglob(".*.log.*") if ".hoodie" not in p.parts]
        if not logs:
            raise RuntimeError("MoR merges wrote no log files — CoW leak")

    tmp = _session_fixture("hudi_mor_dest_up", sf, build)
    return HudiMorDestination(f"{tmp}/t", record_key="o_orderkey").read(spark)


@_register(
    "hudi_mor_bucket_resize",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 800
    ),
    pre AS (
      SELECT o_orderkey, o_custkey, -1.0 AS o_totalprice FROM orders WHERE o_orderkey <= 200
    ),
    post AS (
      SELECT o_orderkey, o_custkey, -2.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 50 OR (o_orderkey > 800 AND o_orderkey <= 900)
    ),
    m1 AS (
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM pre)
      UNION ALL SELECT * FROM pre
    )
    SELECT * FROM m1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM post)
    UNION ALL
    SELECT * FROM post
    """,
)
def hudi_mor_bucket_resize(spark: SparkSession, sf: str) -> DataFrame:
    """MoR BUCKET-COUNT EVOLUTION end-to-end (r11,
    `HudiMorFixtureWriter.resize_buckets` + the destination's
    hoodie.properties authority): load 2 buckets, merge (gen-0 log
    appends), RESIZE to 4 buckets (one clustering replacecommit:
    every gen-0 group retired, data rewritten into generation-1
    groups, pending logs folded), then merge again through a FRESH
    destination whose stale constructor default must adopt the
    evolved (count, generation) from hoodie.properties — routing
    stays a zero-read key function across the resize. The oracle
    recomputes both merges relationally; a leaked retired group, a
    lost pre-resize log, or post-resize routing at the old width
    cannot hash-match."""
    from .package import PackageBuilder
    from .package.hudi_mor_dest import HudiMorDestination
    from .sources.base import WriteDisposition
    from .sources.hudi_mor import HudiMorFixtureWriter, HudiMorTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = HudiMorDestination(f"{tmp}/t", record_key="o_orderkey", n_buckets=2)
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_resize")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 800))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        pre = builder.build(
            admitted=o.filter(F.col("o_orderkey") <= 200).withColumn(
                "o_totalprice", F.lit(-1.0)
            )
        )
        r2 = dest.verify(spark, dest.commit(spark, pre, WriteDisposition.MERGE), pre)
        w = HudiMorFixtureWriter(f"{tmp}/t", record_key="o_orderkey")
        instant = w.resize_buckets(spark, 4)
        if instant is None or w.bucket_generation != 1:
            raise RuntimeError("resize did not land")
        t = HudiMorTable(f"{tmp}/t")
        fids = [fid for fid, _p, _b, _l in t.file_slices(t.latest_instant())]
        if not all(f.startswith("g1-") for f in fids) or len(fids) != 4:
            raise RuntimeError(f"gen-0 groups leaked past the resize: {fids}")
        # fresh destination with the STALE default (4) — must adopt
        # the evolved authority, not scatter keys
        dest2 = HudiMorDestination(f"{tmp}/t", record_key="o_orderkey")
        post = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") <= 50)
                | ((F.col("o_orderkey") > 800) & (F.col("o_orderkey") <= 900))
            ).withColumn("o_totalprice", F.lit(-2.0))
        )
        r3 = dest2.verify(spark, dest2.commit(spark, post, WriteDisposition.MERGE), post)
        if not (r1.verified and r2.verified and r3.verified):
            raise RuntimeError("resize-boundary commit receipt failed verification")

    tmp = _session_fixture("hudi_mor_resize", sf, build)
    return HudiMorDestination(f"{tmp}/t", record_key="o_orderkey").read(spark)


@_register(
    "xtable_delta_to_iceberg_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 900
    """,
)
def xtable_delta_to_iceberg_scan(spark: SparkSession, sf: str) -> DataFrame:
    """METADATA-ONLY format translation, UniForm direction
    (`package/xtable.delta_to_iceberg`): a Delta table (append, then a
    REPLACE that retires the first commit's files from the live set)
    is exposed as an Iceberg table whose manifests LINK the same
    parquet files in place — zero copy, O(live files) metadata work at
    any data size. The fixture asserts translation follows the LOG,
    not the directory (the retired file is on disk but must not link),
    that nothing was copied, and that the Iceberg read equals the
    Delta read; the oracle value-checks the rows."""
    from .package.xtable import delta_to_iceberg
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        dw = DeltaFixtureWriter(f"{tmp}/delta")
        dw.append(orders.filter("o_orderkey <= 600"))
        dw.replace(orders.filter("o_orderkey <= 900"))  # retires commit 0's files
        info = delta_to_iceberg(f"{tmp}/delta", f"{tmp}/ice")
        live = len(DeltaTable(f"{tmp}/delta").files_for_version(info["delta_version"]))
        if info["files_linked"] != live:
            raise AssertionError(
                f"linked {info['files_linked']} files, live set has {live}"
            )
        import os

        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/ice/data")):
            raise AssertionError("translation copied data — must be metadata-only")
        ice = IcebergTable(f"{tmp}/ice").read(spark)
        delta = DeltaTable(f"{tmp}/delta").read(spark)
        if ice.exceptAll(delta).count() or delta.exceptAll(ice).count():
            raise AssertionError("iceberg view of the delta table diverges")

    tmp = _session_fixture("xtable_d2i", sf, build)
    return IcebergTable(f"{tmp}/ice").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_iceberg_to_delta_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 800
    """,
)
def xtable_iceberg_to_delta_scan(spark: SparkSession, sf: str) -> DataFrame:
    """METADATA-ONLY format translation, XTable direction
    (`package/xtable.iceberg_to_delta`): an Iceberg table's current
    snapshot exposed as a Delta table whose log LINKS the same parquet
    files by absolute path (the protocol's shallow-clone mechanism) —
    zero copy. In-build: linked count == live snapshot files, no
    parquet landed in the Delta root, Delta read == Iceberg read; the
    oracle value-checks the rows."""
    from .package.xtable import iceberg_to_delta
    from .sources.delta import DeltaTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        iw = IcebergFixtureWriter(f"{tmp}/ice")
        iw.append(orders.filter("o_orderkey <= 500"))
        iw.append(orders.filter("o_orderkey > 500 AND o_orderkey <= 800"))
        info = iceberg_to_delta(f"{tmp}/ice", f"{tmp}/delta")
        t = IcebergTable(f"{tmp}/ice")
        live = len(t.files_for_snapshot(t.current_snapshot_id()))
        if info["files_linked"] != live:
            raise AssertionError(
                f"linked {info['files_linked']} files, live set has {live}"
            )
        import os

        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/delta")):
            raise AssertionError("translation copied data — must be metadata-only")
        d = DeltaTable(f"{tmp}/delta").read(spark)
        i = t.read(spark)
        if d.exceptAll(i).count() or i.exceptAll(d).count():
            raise AssertionError("delta view of the iceberg table diverges")

    tmp = _session_fixture("xtable_i2d", sf, build)
    return DeltaTable(f"{tmp}/delta").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_sync_history_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 450
    """,
)
def xtable_sync_history_scan(spark: SparkSession, sf: str) -> DataFrame:
    """CONTINUOUS UniForm sync (`package/xtable.sync_delta_to_iceberg`)
    — one Iceberg snapshot per Delta commit, each stamped with the
    Delta commit's timestamp, so the translated table keeps the WHOLE
    history: the fixture syncs a 3-commit Delta table (append, append,
    overwrite) and asserts per-version read parity for EVERY synced
    pair, timestamp-addressed time travel parity, idempotent re-sync
    (cursor, zero new snapshots), and zero copied parquet. The oracle
    value-checks the final state."""
    from .package.xtable import sync_delta_to_iceberg
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        import os

        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        dw = DeltaFixtureWriter(f"{tmp}/delta")
        dw.append(orders.filter("o_orderkey <= 300"), timestamp_ms=1_000_000)
        dw.append(
            orders.filter("o_orderkey > 300 AND o_orderkey <= 600"),
            timestamp_ms=2_000_000,
        )
        dw.replace(orders.filter("o_orderkey <= 450"), timestamp_ms=3_000_000)
        r = sync_delta_to_iceberg(f"{tmp}/delta", f"{tmp}/ice")
        dt, it = DeltaTable(f"{tmp}/delta"), IcebergTable(f"{tmp}/ice")
        for e in r["synced"]:
            v, sid = e["delta_version"], e["iceberg_snapshot_id"]
            d = dt.read(spark, version=v)
            i = it.read(spark, snapshot_id=sid)
            if d.exceptAll(i).count() or i.exceptAll(d).count():
                raise AssertionError(f"history diverges at delta v{v}")
        # timestamp-addressed parity: both engines resolve 2.5M ms to v1
        v_ts = dt.version_as_of(2_500_000)
        s_ts = it.snapshot_as_of(2_500_000)["snapshot-id"]
        d = dt.read(spark, version=v_ts)
        i = it.read(spark, snapshot_id=int(s_ts))
        if d.exceptAll(i).count() or i.exceptAll(d).count():
            raise AssertionError("timestamp time travel diverges")
        r2 = sync_delta_to_iceberg(f"{tmp}/delta", f"{tmp}/ice")
        if r2["synced"]:
            raise AssertionError("re-sync was not a no-op")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/ice/data")):
            raise AssertionError("sync copied data — must be metadata-only")

    tmp = _session_fixture("xtable_sync", sf, build)
    return IcebergTable(f"{tmp}/ice").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_hudi_to_iceberg_scan",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 600
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 100 THEN -1.0 ELSE o_totalprice END AS o_totalprice
    FROM base
    """,
)
def xtable_hudi_to_iceberg_scan(spark: SparkSession, sf: str) -> DataFrame:
    """XTable's Hudi leg (`package/xtable.hudi_to_iceberg`): a Hudi
    copy-on-write table — including an UPSERT that rewrote a file
    group — exposed as Iceberg over the same parquet. The fixture's
    upsert proves translation links each group's LATEST slice only
    (the superseded slice is on disk for time travel but must not
    link); zero copy and read equality asserted in-build, rows
    oracled."""
    from .package.xtable import hudi_to_iceberg
    from .sources.hudi import HudiFixtureWriter, HudiTable
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        import os

        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        base = orders.filter("o_orderkey <= 600")
        hw = HudiFixtureWriter(f"{tmp}/h")
        hw.commit(base, file_id="g0")
        # upsert: the group's NEW slice carries the merged rows — the
        # CoW rewrite shape; the superseded slice stays for time travel
        merged = base.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") <= 100, F.lit(-1.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        hw.commit(merged, file_id="g0")
        info = hudi_to_iceberg(f"{tmp}/h", f"{tmp}/i")
        ht = HudiTable(f"{tmp}/h")
        live = len(ht.files_for_instant(ht.latest_instant()))
        if info["files_linked"] != live:
            raise AssertionError(
                f"linked {info['files_linked']}, live set has {live}"
            )
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/i/data")):
            raise AssertionError("translation copied data — must be metadata-only")
        i = IcebergTable(f"{tmp}/i").read(spark)
        h = ht.read(spark)
        if i.exceptAll(h).count() or h.exceptAll(i).count():
            raise AssertionError("iceberg view of the hudi table diverges")

    tmp = _session_fixture("xtable_h2i", sf, build)
    return IcebergTable(f"{tmp}/i").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_iceberg_to_hudi_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 700
    """,
)
def xtable_iceberg_to_hudi_scan(spark: SparkSession, sf: str) -> DataFrame:
    """XTable →Hudi direction (`package/xtable.iceberg_to_hudi`) —
    part of the any-to-any translation matrix (D→I, I→D, H→I, I→H,
    and since r11 a DIRECT D→H leg): the Hudi timeline's write
    stats carry the Iceberg data files' absolute paths, nothing
    copied; in-build zero-copy + read-equality assertions, rows
    oracled."""
    from .package.xtable import iceberg_to_hudi
    from .sources.hudi import HudiTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        import os

        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        iw = IcebergFixtureWriter(f"{tmp}/i")
        iw.append(orders.filter("o_orderkey <= 400"))
        iw.append(orders.filter("o_orderkey > 400 AND o_orderkey <= 700"))
        info = iceberg_to_hudi(f"{tmp}/i", f"{tmp}/h")
        if info["files_linked"] != 2:
            raise AssertionError(f"expected 2 linked files, got {info}")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/h")):
            raise AssertionError("translation copied data — must be metadata-only")
        h = HudiTable(f"{tmp}/h").read(spark)
        i = IcebergTable(f"{tmp}/i").read(spark)
        if h.exceptAll(i).count() or i.exceptAll(h).count():
            raise AssertionError("hudi view of the iceberg table diverges")

    tmp = _session_fixture("xtable_i2h", sf, build)
    return HudiTable(f"{tmp}/h").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_partitioned_delta_to_iceberg_scan",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey <= 900
    """,
)
def xtable_partitioned_delta_to_iceberg_scan(spark: SparkSession, sf: str) -> DataFrame:
    """PARTITIONED metadata translation, UniForm direction (r11,
    `package/xtable.delta_to_iceberg`): a hive-partitioned Delta table
    — whose data files OMIT the partition column — translates by
    reconstituting add.partitionValues as Iceberg identity-spec
    partition records in the linked manifests (the Flink metadata-only
    shape the Iceberg reader reconstitutes as per-group constants).
    This was the repo's highest-rate refusal: most production
    lakehouse tables are partitioned. In-build: zero copy, full read
    parity INCLUDING the reconstituted column, and partition-predicate
    parity; the oracle value-checks the rows."""
    import os

    from .package.xtable import delta_to_iceberg
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        )
        dw = DeltaFixtureWriter(f"{tmp}/delta", partition_by=["o_orderpriority"])
        dw.append(orders.filter("o_orderkey <= 600"))
        dw.replace(orders.filter("o_orderkey <= 900"))
        info = delta_to_iceberg(f"{tmp}/delta", f"{tmp}/ice")
        if info["partition_columns"] != ["o_orderpriority"]:
            raise AssertionError(f"partition spec not carried: {info}")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/ice/data")):
            raise AssertionError("translation copied data — must be metadata-only")
        ice = IcebergTable(f"{tmp}/ice").read(spark)
        delta = DeltaTable(f"{tmp}/delta").read(spark)
        if ice.exceptAll(delta).count() or delta.exceptAll(ice).count():
            raise AssertionError("iceberg view of the partitioned delta diverges")
        a = ice.filter("o_orderpriority = '1-URGENT'")
        b = delta.filter("o_orderpriority = '1-URGENT'")
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            raise AssertionError("partition-predicate read diverges")

    tmp = _session_fixture("xtable_pd2i", sf, build)
    return IcebergTable(f"{tmp}/ice").read(spark).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )


@_register(
    "xtable_partitioned_iceberg_to_delta_scan",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey <= 800
    """,
)
def xtable_partitioned_iceberg_to_delta_scan(spark: SparkSession, sf: str) -> DataFrame:
    """PARTITIONED metadata translation, reverse direction (r11,
    `package/xtable.iceberg_to_delta`): an identity-partitioned
    Iceberg table's manifest partition records become
    add.partitionValues, and the Delta reader reconstitutes the
    columns as literals from the LOG (linked absolute-path files live
    in the source's layout, so hive-directory inference cannot apply —
    the shallow-clone read discipline). Non-identity transforms
    refuse. In-build: zero copy, read parity incl. the partition
    column, partition-predicate parity; rows oracled."""
    import os

    from .package.xtable import iceberg_to_delta
    from .sources.delta import DeltaTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        )
        iw = IcebergFixtureWriter(f"{tmp}/ice", partition_by=["o_orderpriority"])
        iw.append(orders.filter("o_orderkey <= 500"))
        iw.append(orders.filter("o_orderkey > 500 AND o_orderkey <= 800"))
        info = iceberg_to_delta(f"{tmp}/ice", f"{tmp}/delta")
        if info["partition_columns"] != ["o_orderpriority"]:
            raise AssertionError(f"partition spec not carried: {info}")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/delta")):
            raise AssertionError("translation copied data — must be metadata-only")
        d = DeltaTable(f"{tmp}/delta").read(spark)
        i = IcebergTable(f"{tmp}/ice").read(spark)
        if d.exceptAll(i).count() or i.exceptAll(d).count():
            raise AssertionError("delta view of the partitioned iceberg diverges")
        a = d.filter("o_orderpriority = '2-HIGH'")
        b = i.filter("o_orderpriority = '2-HIGH'")
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            raise AssertionError("partition-predicate read diverges")

    tmp = _session_fixture("xtable_pi2d", sf, build)
    return DeltaTable(f"{tmp}/delta").read(spark).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )


@_register(
    "xtable_delta_to_hudi_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 450
    """,
)
def xtable_delta_to_hudi_scan(spark: SparkSession, sf: str) -> DataFrame:
    """DIRECT D→H metadata translation (r11,
    `package/xtable.delta_to_hudi`) — previously documented as the
    D→I→H composition, now a first-class leg closing the any-to-any
    matrix with point-in-time translation in all six directions. The
    Hudi timeline's write stats link the Delta files' absolute paths;
    a REPLACE in the Delta history proves translation follows the
    LOG's live set. Zero copy and read parity in-build; rows
    oracled."""
    import os

    from .package.xtable import delta_to_hudi
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.hudi import HudiTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        dw = DeltaFixtureWriter(f"{tmp}/delta")
        dw.append(orders.filter("o_orderkey <= 300"))
        dw.append(orders.filter("o_orderkey > 300 AND o_orderkey <= 600"))
        dw.replace(orders.filter("o_orderkey <= 450"))
        info = delta_to_hudi(f"{tmp}/delta", f"{tmp}/h")
        live = len(DeltaTable(f"{tmp}/delta").files_for_version(info["delta_version"]))
        if info["files_linked"] != live:
            raise AssertionError(f"linked {info['files_linked']}, live set {live}")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/h")):
            raise AssertionError("translation copied data — must be metadata-only")
        h = HudiTable(f"{tmp}/h").read(spark)
        d = DeltaTable(f"{tmp}/delta").read(spark)
        if h.exceptAll(d).count() or d.exceptAll(h).count():
            raise AssertionError("hudi view of the delta table diverges")

    tmp = _session_fixture("xtable_d2h", sf, build)
    return HudiTable(f"{tmp}/h").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_sync_hudi_history_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 350
    """,
)
def xtable_sync_hudi_history_scan(spark: SparkSession, sf: str) -> DataFrame:
    """CONTINUOUS sync into the HUDI target (r11,
    `package/xtable.sync_delta_to_hudi`) — one Hudi instant per Delta
    commit (adds-only → link commit; removes → replacecommit linking
    the live set), durable cursor under `.hoodie`, so every target now
    has BOTH point-in-time and continuous sync. In-build: per-version
    instant-addressed read parity for the whole history, idempotent
    re-sync, zero copy; the oracle value-checks the final state."""
    import os

    from .package.xtable import sync_delta_to_hudi
    from .sources.delta import DeltaFixtureWriter, DeltaTable
    from .sources.hudi import HudiTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        dw = DeltaFixtureWriter(f"{tmp}/delta")
        dw.append(orders.filter("o_orderkey <= 200"))
        dw.append(orders.filter("o_orderkey > 200 AND o_orderkey <= 500"))
        dw.replace(orders.filter("o_orderkey <= 350"))
        r = sync_delta_to_hudi(f"{tmp}/delta", f"{tmp}/h")
        dt, ht = DeltaTable(f"{tmp}/delta"), HudiTable(f"{tmp}/h")
        for e in r["synced"]:
            d = dt.read(spark, version=e["delta_version"])
            h = ht.read(spark, instant=e["hudi_instant"])
            if d.exceptAll(h).count() or h.exceptAll(d).count():
                raise AssertionError(f"history diverges at delta v{e['delta_version']}")
        if sync_delta_to_hudi(f"{tmp}/delta", f"{tmp}/h")["synced"]:
            raise AssertionError("re-sync was not a no-op")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/h")):
            raise AssertionError("sync copied data — must be metadata-only")

    tmp = _session_fixture("xtable_syncd2h", sf, build)
    return HudiTable(f"{tmp}/h").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_sync_iceberg_to_delta_history",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey <= 420
    """,
)
def xtable_sync_iceberg_to_delta_history(spark: SparkSession, sf: str) -> DataFrame:
    """REVERSE continuous sync (r11,
    `package/xtable.sync_iceberg_to_delta`) — one Delta commit per
    Iceberg snapshot on the current ancestry, cursor on the SEQUENCE
    NUMBER (snapshot ids are random by spec), so both sync directions
    now exist like Apache XTable's incremental sync. The fixture syncs
    a PARTITIONED 3-snapshot Iceberg table (append, append, overwrite)
    and asserts per-snapshot read parity incl. the partition column,
    Iceberg-timestamp-stamped Delta commits, idempotent re-sync, and
    zero copied parquet in the Delta root; the oracle value-checks the
    final state."""
    import os

    from .package.xtable import sync_iceberg_to_delta
    from .sources.delta import DeltaTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        )
        iw = IcebergFixtureWriter(f"{tmp}/i", partition_by=["o_orderpriority"])
        iw.append(orders.filter("o_orderkey <= 200"), timestamp_ms=1_000_000)
        iw.append(
            orders.filter("o_orderkey > 200 AND o_orderkey <= 500"),
            timestamp_ms=2_000_000,
        )
        iw.overwrite(orders.filter("o_orderkey <= 420"), timestamp_ms=3_000_000)
        r = sync_iceberg_to_delta(f"{tmp}/i", f"{tmp}/d")
        it, dt = IcebergTable(f"{tmp}/i"), DeltaTable(f"{tmp}/d")
        for e in r["synced"]:
            i = it.read(spark, snapshot_id=e["iceberg_snapshot_id"])
            d = dt.read(spark, version=e["delta_version"])
            if d.exceptAll(i).count() or i.exceptAll(d).count():
                raise AssertionError(
                    f"history diverges at snapshot {e['iceberg_snapshot_id']}"
                )
        if sync_iceberg_to_delta(f"{tmp}/i", f"{tmp}/d")["synced"]:
            raise AssertionError("re-sync was not a no-op")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/d")):
            raise AssertionError("sync copied data — must be metadata-only")

    tmp = _session_fixture("xtable_synci2d", sf, build)
    return DeltaTable(f"{tmp}/d").read(spark).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )


@_register(
    "xtable_sync_hudi_to_iceberg_history",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 500
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 60 THEN -1.0 ELSE o_totalprice END AS o_totalprice
    FROM base
    """,
)
def xtable_sync_hudi_to_iceberg_history(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous sync from a HUDI CoW source (r11,
    `package/xtable.sync_hudi_to_iceberg`) — one Iceberg snapshot per
    instant, completing the continuous-sync fan across all three
    source formats (Delta since r10, Iceberg and Hudi since r11).
    Insert-only instants land as appends linking the new base files; a
    CoW upsert (group rewrite) lands as an overwrite of the live slice
    set, so the superseded slice never leaks. In-build: per-instant
    read parity across the whole timeline, idempotent resume, zero
    copy; the oracle value-checks the final state."""
    import os

    from .package.xtable import sync_hudi_to_iceberg
    from .sources.hudi import HudiFixtureWriter, HudiTable
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        base = orders.filter("o_orderkey <= 300")
        hw = HudiFixtureWriter(f"{tmp}/h")
        hw.commit(base, file_id="g0")
        hw.commit(orders.filter("o_orderkey > 300 AND o_orderkey <= 500"), file_id="g1")
        hw.commit(
            base.withColumn(
                "o_totalprice",
                F.when(F.col("o_orderkey") <= 60, F.lit(-1.0)).otherwise(
                    F.col("o_totalprice")
                ),
            ),
            file_id="g0",
        )
        r = sync_hudi_to_iceberg(f"{tmp}/h", f"{tmp}/i")
        ht, it = HudiTable(f"{tmp}/h"), IcebergTable(f"{tmp}/i")
        for e in r["synced"]:
            h = ht.read(spark, instant=e["hudi_instant"])
            i = it.read(spark, snapshot_id=e["iceberg_snapshot_id"])
            if h.exceptAll(i).count() or i.exceptAll(h).count():
                raise AssertionError(f"history diverges at {e['hudi_instant']}")
        if sync_hudi_to_iceberg(f"{tmp}/h", f"{tmp}/i")["synced"]:
            raise AssertionError("re-sync was not a no-op")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/i/data")):
            raise AssertionError("sync copied data — must be metadata-only")

    tmp = _session_fixture("xtable_synch2i", sf, build)
    return IcebergTable(f"{tmp}/i").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_sync_iceberg_to_hudi_history",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 380
    """,
)
def xtable_sync_iceberg_to_hudi_history(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous I→H sync (r11, `package/xtable.sync_iceberg_to_hudi`)
    — with H→D below this closes the continuous matrix: every ordered
    pair of {Delta, Iceberg, Hudi} has BOTH point-in-time translation
    and incremental sync. Appends land as Hudi link commits, an
    overwrite as a replacecommit linking the live set; cursor on the
    sequence number. In-build: per-state read parity across the whole
    history, idempotent resume, zero copy; rows oracled."""
    import os

    from .package.xtable import sync_iceberg_to_hudi
    from .sources.hudi import HudiTable
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        iw = IcebergFixtureWriter(f"{tmp}/i")
        iw.append(orders.filter("o_orderkey <= 250"))
        iw.append(orders.filter("o_orderkey > 250 AND o_orderkey <= 500"))
        iw.overwrite(orders.filter("o_orderkey <= 380"))
        r = sync_iceberg_to_hudi(f"{tmp}/i", f"{tmp}/h")
        it, ht = IcebergTable(f"{tmp}/i"), HudiTable(f"{tmp}/h")
        for e in r["synced"]:
            i = it.read(spark, snapshot_id=e["iceberg_snapshot_id"])
            h = ht.read(spark, instant=e["hudi_instant"])
            if i.exceptAll(h).count() or h.exceptAll(i).count():
                raise AssertionError(f"diverges at {e['iceberg_snapshot_id']}")
        if sync_iceberg_to_hudi(f"{tmp}/i", f"{tmp}/h")["synced"]:
            raise AssertionError("re-sync was not a no-op")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/h")):
            raise AssertionError("sync copied data — must be metadata-only")

    tmp = _session_fixture("xtable_synci2h", sf, build)
    return HudiTable(f"{tmp}/h").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_sync_hudi_to_delta_history",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 320
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 70 THEN -1.0 ELSE o_totalprice END AS o_totalprice
    FROM base
    """,
)
def xtable_sync_hudi_to_delta_history(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous H→D sync (r11, `package/xtable.sync_hudi_to_delta`)
    — the sixth and last continuous direction: one Delta commit per
    Hudi instant, insert-only commits link the new base files, a CoW
    upsert (group rewrite) lands as replace_with_links of the live
    slice set so the superseded slice never leaks. In-build:
    per-instant read parity, idempotent resume, zero copy; rows
    oracled."""
    import os

    from .package.xtable import sync_hudi_to_delta
    from .sources.delta import DeltaTable
    from .sources.hudi import HudiFixtureWriter, HudiTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        base = orders.filter("o_orderkey <= 320")
        hw = HudiFixtureWriter(f"{tmp}/h")
        hw.commit(base, file_id="g0")
        hw.commit(
            base.withColumn(
                "o_totalprice",
                F.when(F.col("o_orderkey") <= 70, F.lit(-1.0)).otherwise(
                    F.col("o_totalprice")
                ),
            ),
            file_id="g0",
        )
        r = sync_hudi_to_delta(f"{tmp}/h", f"{tmp}/d")
        ht, dt = HudiTable(f"{tmp}/h"), DeltaTable(f"{tmp}/d")
        for e in r["synced"]:
            h = ht.read(spark, instant=e["hudi_instant"])
            d = dt.read(spark, version=e["delta_version"])
            if h.exceptAll(d).count() or d.exceptAll(h).count():
                raise AssertionError(f"diverges at {e['hudi_instant']}")
        if sync_hudi_to_delta(f"{tmp}/h", f"{tmp}/d")["synced"]:
            raise AssertionError("re-sync was not a no-op")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/d")):
            raise AssertionError("sync copied data — must be metadata-only")

    tmp = _session_fixture("xtable_synch2d", sf, build)
    return DeltaTable(f"{tmp}/d").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "xtable_hudi_to_delta_scan",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey <= 650
    """,
)
def xtable_hudi_to_delta_scan(spark: SparkSession, sf: str) -> DataFrame:
    """DIRECT H→D metadata translation (r11,
    `package/xtable.hudi_to_delta`) over a PARTITIONED Hudi CoW table
    — the last leg, closing the any-to-any matrix natively in all six
    directions. CoW base files carry every column, so linking is
    lossless; the hive partition paths the timeline records become
    add.partitionValues, and the Delta side reads through the
    linked-partitioned log path (keeping partition pruning). Zero
    copy, read parity, and partition-predicate parity in-build; rows
    oracled."""
    import os

    from .package.xtable import hudi_to_delta
    from .sources.delta import DeltaTable
    from .sources.hudi import HudiFixtureWriter, HudiTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        )
        hw = HudiFixtureWriter(f"{tmp}/h", partition_by=["o_orderpriority"])
        hw.commit(orders.filter("o_orderkey <= 650"))
        info = hudi_to_delta(f"{tmp}/h", f"{tmp}/delta")
        if info["partition_columns"] != ["o_orderpriority"]:
            raise AssertionError(f"partition columns not carried: {info}")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/delta")):
            raise AssertionError("translation copied data — must be metadata-only")
        d = DeltaTable(f"{tmp}/delta").read(spark)
        h = HudiTable(f"{tmp}/h").read(spark).select(*d.columns)
        if d.exceptAll(h).count() or h.exceptAll(d).count():
            raise AssertionError("delta view of the hudi table diverges")
        a = d.filter("o_orderpriority = '3-MEDIUM'")
        b = h.filter("o_orderpriority = '3-MEDIUM'")
        if a.exceptAll(b).count() or b.exceptAll(a).count():
            raise AssertionError("partition-predicate read diverges")

    tmp = _session_fixture("xtable_h2d", sf, build)
    return DeltaTable(f"{tmp}/delta").read(spark).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )


@_register(
    "xtable_mor_to_delta_scan",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey > 200 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey <= 600
    """,
)
def xtable_mor_to_delta_scan(spark: SparkSession, sf: str) -> DataFrame:
    """COMPACTION-GATED translation from a Hudi MERGE-ON-READ source
    (r12, `package/xtable.hudi_mor_to_delta` / `hudi_mor_to_iceberg`)
    — the MoR source shape the r11 verdict named as the
    highest-rate refusal left in the translation fan (production Hudi
    streaming tables are overwhelmingly MoR). The fixture lands an
    insert + an upsert (log deltas), asserts the DIRTY table refuses
    with compact() named as the unlock (Apache XTable's own posture:
    sync the read-optimized view, never drop log records silently),
    compacts, then translates to BOTH Delta and Iceberg and asserts
    zero-copy read parity with the MoR read-optimized view on each.
    The oracle value-checks the upserted state end to end."""
    import os

    from .package.xtable import hudi_mor_to_delta, hudi_mor_to_iceberg
    from .sources.delta import DeltaTable
    from .sources.hudi import HudiError
    from .sources.hudi_mor import META_COLS, HudiMorFixtureWriter, HudiMorTable
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        w = HudiMorFixtureWriter(f"{tmp}/m", record_key="o_orderkey")
        w.insert(orders.filter("o_orderkey <= 400"))
        w.upsert(
            orders.filter("o_orderkey > 200 and o_orderkey <= 600").withColumn(
                "o_totalprice", F.col("o_totalprice") + 1
            )
        )
        try:
            hudi_mor_to_delta(f"{tmp}/m", f"{tmp}/d")
            raise AssertionError("dirty MoR table must refuse translation")
        except HudiError as e:
            if "compact()" not in str(e):
                raise AssertionError(f"refusal must name compact(): {e}") from e
        w.compact(spark)
        hudi_mor_to_delta(f"{tmp}/m", f"{tmp}/d")
        hudi_mor_to_iceberg(f"{tmp}/m", f"{tmp}/i")
        for root in ("d", "i"):
            if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/{root}")):
                raise AssertionError("translation copied data — must be metadata-only")
        ro = HudiMorTable(f"{tmp}/m").read_optimized(spark)
        d = DeltaTable(f"{tmp}/d").read(spark).drop(*META_COLS)
        i = IcebergTable(f"{tmp}/i").read(spark).drop(*META_COLS)
        for v, name in ((d, "delta"), (i, "iceberg")):
            if v.exceptAll(ro).count() or ro.exceptAll(v).count():
                raise AssertionError(f"{name} view of the compacted MoR diverges")

    tmp = _session_fixture("xtable_mor2d", sf, build)
    from .sources.hudi_mor import META_COLS

    return (
        DeltaTable(f"{tmp}/d")
        .read(spark)
        .drop(*META_COLS)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@_register(
    "xtable_partitioned_days_iceberg_to_delta_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate_day
    FROM orders WHERE o_orderkey <= 500
    """,
)
def xtable_partitioned_days_iceberg_to_delta_scan(
    spark: SparkSession, sf: str
) -> DataFrame:
    """DERIVABLE-TRANSFORM partitioned translation (r12): an Iceberg
    table partitioned by days(o_orderdate) translates to Delta as a
    GENERATED partition column — the spec field lands as a synthesized
    `o_orderdate_day` column whose generation expression
    (CAST(o_orderdate AS DATE)) is recorded in the Delta schema
    metadata and whose per-file value reconstitutes from
    add.partitionValues, so Delta-side PARTITION PRUNING works on the
    derived column (asserted in-build: an equality scan keeps exactly
    the matching day's files). year/month translate the same way;
    bucket (engine-internal murmur3) and truncate still refuse. The
    oracle value-checks rows AND the derived column against its
    defining expression."""
    from .expressions.ast import Col, Lit
    from .package.xtable import iceberg_to_delta
    from .plans.scan import ScanRequest
    from .sources.delta import DeltaTable
    from .sources.iceberg import IcebergFixtureWriter

    def build(tmp: str) -> None:
        orders = _t(spark, sf, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        iw = IcebergFixtureWriter(f"{tmp}/i", partition_by=[("day", "o_orderdate")], seed=7)
        iw.append(orders.filter("o_orderkey <= 500"))
        info = iceberg_to_delta(f"{tmp}/i", f"{tmp}/d")
        if info["partition_columns"] != ["o_orderdate_day"]:
            raise AssertionError(f"derived partition column missing: {info}")
        dt = DeltaTable(f"{tmp}/d")
        d = dt.read(spark)
        if d.filter("o_orderdate_day <> CAST(o_orderdate AS DATE)").count():
            raise AssertionError("generated column diverges from its expression")
        some_day = d.select("o_orderdate_day").first()[0]
        _df, plan = dt.scan(
            spark, ScanRequest("t", predicates=[Col("o_orderdate_day") == Lit(some_day)])
        )
        meta = plan.partitions.meta
        if not meta["files_pruned_by_partition"]:
            raise AssertionError(f"derived-column pruning inert: {meta}")
        if meta["files_kept"] + meta["files_pruned"] != meta["files_total"]:
            raise AssertionError(f"prune accounting broken: {meta}")

    tmp = _session_fixture("xtable_days_i2d", sf, build)
    # dates returned as ISO strings (both engines' canonical cast) —
    # the typed date semantics are asserted in-build
    return DeltaTable(f"{tmp}/d").read(spark).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        F.col("o_orderdate_day").cast("string").alias("o_orderdate_day"),
    )


@_register(
    "delta_uniform_dest_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey <= 550
    """,
)
def delta_uniform_dest_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Delta UNIFORM as a destination mode (r11,
    `DeltaDestination(uniform="iceberg")`): every successful commit
    generates Iceberg metadata IN the table directory (the real
    UniForm layout — `metadata/` beside `_delta_log`) linking the same
    files, so Iceberg engines read the Delta table with zero copies
    and per-commit history parity. The fixture lands two appends and a
    replace through the commit/verify protocol, asserts per-commit
    Iceberg==Delta parity and zero copied parquet, and the query
    returns what an ICEBERG reader sees; the oracle value-checks the
    rows."""
    import os

    from .package import PackageBuilder
    from .package.delta_dest import DeltaDestination
    from .sources.base import WriteDisposition
    from .sources.delta import DeltaTable
    from .sources.iceberg import IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = DeltaDestination(f"{tmp}/t", uniform="iceberg")
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_uniform")
        for df, disp in (
            (o.filter("o_orderkey <= 300"), WriteDisposition.APPEND),
            (o.filter("o_orderkey > 300 AND o_orderkey <= 600"), WriteDisposition.APPEND),
            (o.filter("o_orderkey <= 550"), WriteDisposition.REPLACE),
        ):
            pkg = builder.build(admitted=df)
            rec = dest.verify(spark, dest.commit(spark, pkg, disp), pkg)
            if not rec.verified:
                raise RuntimeError("uniform destination commit failed verification")
            if dest.last_uniform_sync["stale"]:
                raise RuntimeError("representable commit left the sync stale")
            ice = IcebergTable(f"{tmp}/t").read(spark)
            d = DeltaTable(f"{tmp}/t").read(spark)
            if ice.exceptAll(d).count() or d.exceptAll(ice).count():
                raise AssertionError("uniform iceberg view diverges from delta")
        if any(f.endswith(".parquet") for f in os.listdir(f"{tmp}/t/data")):
            raise AssertionError("uniform sync copied data — must be metadata-only")

    tmp = _session_fixture("delta_uniform", sf, build)
    return IcebergTable(f"{tmp}/t").read(spark).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@_register(
    "cross_format_replication_hudi",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 100 THEN -1.0 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey > 0 AND o_orderkey <= 900
    """,
)
def cross_format_replication_hudi(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ICEBERG -> HUDI replication — the same composed
    cross-format CDC sync as `cross_format_replication`, landing in
    the third open format: `IcebergTable.changes_since` (ancestry-walk
    incremental consumption) feeding `HudiDestination` copy-on-write
    MERGE commits through the package/receipt protocol. Same three
    cycles (full sync, incremental append with a delivered-row-count
    assertion, upstream upsert resetting consumption to an idempotent
    full re-read); the query returns the HUDI side as any CoW reader
    resolves it."""
    from .package import PackageBuilder
    from .package.hudi_dest import HudiDestination
    from .sources.base import WriteDisposition
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        iw = IcebergFixtureWriter(f"{tmp}/src", seed=29)
        dest = HudiDestination(f"{tmp}/dst", merge_keys=["o_orderkey"])
        builder = PackageBuilder(f"{tmp}/pkgs", "ice_to_hudi")

        def sync(position, expect_rows=None):
            t = IcebergTable(f"{tmp}/src")
            changed, new_pos = t.changes_since(spark, position)
            if changed is None:
                return position
            n = changed.count()
            if expect_rows is not None and n != expect_rows:
                raise AssertionError(
                    f"incremental cycle delivered {n} rows, expected {expect_rows}"
                )
            pkg = builder.build(admitted=changed)
            receipt = dest.verify(
                spark, dest.commit(spark, pkg, WriteDisposition.MERGE), pkg
            )
            if not receipt.verified:
                raise RuntimeError("replication commit failed receipt verification")
            return new_pos

        a = o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 600))
        iw.append(a, timestamp_ms=1000)
        pos = sync(None, expect_rows=a.count())
        b = o.filter((F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 900))
        iw.append(b, timestamp_ms=2000)
        pos = sync(pos, expect_rows=b.count())
        restated = a.filter(F.col("o_orderkey") <= 100).withColumn(
            "o_totalprice", F.lit(-1.0)
        )
        iw.upsert(restated, ["o_orderkey"], timestamp_ms=3000)
        sync(pos)

    tmp = _session_fixture("xfmt_repl_hudi", sf, build)
    return HudiDestination(f"{tmp}/dst", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "cross_format_replication_hudi_mor",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey > 0 AND o_orderkey <= 600
    ),
    upserted AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 100 THEN -1.0 ELSE o_totalprice END AS o_totalprice
      FROM base
      UNION ALL
      SELECT o_orderkey, -1.0 FROM orders
      WHERE o_orderkey > 600 AND o_orderkey <= 700
    )
    SELECT * FROM upserted WHERE o_orderkey NOT BETWEEN 200 AND 250
    """,
)
def cross_format_replication_hudi_mor(spark: SparkSession, sf: str) -> DataFrame:
    """ROW-LEVEL Iceberg -> Hudi MERGE-ON-READ CDC replication: each
    `changelog_scan` window reduces to one effect per key (a key with
    an insert wins as an upsert; delete-only keys become deletes) and
    lands through ONE CDC_APPLY commit — upserts as Avro data blocks,
    deletes as NATIVE delete blocks, per touched file group. This is
    the replication shape whose per-cycle write cost is O(cycle
    changes): no file group is rewritten at any cycle (the CoW twin
    `cross_format_replication_hudi` rewrites touched groups each
    cycle). Three upstream cycles: append, equality-delete upsert,
    pure keyed delete; the oracle recomputes the final replica
    relationally — a lost delete block, a wrong winner, or a replayed
    false pair cannot hash-match."""
    from .package import PackageBuilder
    from .package.hudi_mor_dest import HudiMorDestination
    from .sources.base import WriteDisposition
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        iw = IcebergFixtureWriter(f"{tmp}/src", seed=47)
        dest = HudiMorDestination(f"{tmp}/dst", record_key="o_orderkey")
        builder = PackageBuilder(f"{tmp}/pkgs", "ice_to_mor")

        def sync(position):
            t = IcebergTable(f"{tmp}/src")
            ch = t.changelog_scan(spark, from_snapshot_id=position)
            ins = ch.filter(F.col("_change_type") == "insert").drop(
                "_change_type", "_snapshot_id"
            )
            dels = (
                ch.filter(F.col("_change_type") == "delete")
                .drop("_change_type", "_snapshot_id")
                .join(ins.select("o_orderkey"), "o_orderkey", "left_anti")
            )
            effects = ins.withColumn("op", F.lit("update")).unionByName(
                dels.withColumn("op", F.lit("delete"))
            )
            pkg = builder.build(admitted=effects)
            rec = dest.verify(
                spark, dest.commit(spark, pkg, WriteDisposition.CDC_APPLY), pkg
            )
            if not rec.verified:
                raise RuntimeError("mor cdc_apply receipt failed verification")
            return t.current_snapshot_id()

        a = o.filter((F.col("o_orderkey") > 0) & (F.col("o_orderkey") <= 600))
        iw.append(a, timestamp_ms=1000)
        pos = sync(None)
        restated = (
            a.filter(F.col("o_orderkey") <= 100)
            .unionByName(
                o.filter((F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 700))
            )
            .withColumn("o_totalprice", F.lit(-1.0))
        )
        iw.upsert(restated, ["o_orderkey"], timestamp_ms=2000)
        pos = sync(pos)
        dead = o.filter((F.col("o_orderkey") >= 200) & (F.col("o_orderkey") <= 250))
        iw2 = IcebergFixtureWriter(f"{tmp}/src")
        iw2.delete_equality(
            [
                {"o_orderkey": int(r.o_orderkey)}
                for r in dead.select("o_orderkey").collect()
            ],
            ["o_orderkey"],
            timestamp_ms=3000,
        )
        sync(pos)

    tmp = _session_fixture("xfmt_repl_mor", sf, build)
    return HudiMorDestination(f"{tmp}/dst", record_key="o_orderkey").read(spark)


@_register(
    "dest_schema_evolution_trio",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 200
    ), merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 100 THEN -1.0 ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey <= 100 THEN 'm' ELSE NULL END AS o_note
      FROM base
    )
    SELECT fmt, o_orderkey, o_totalprice, o_note
    FROM merged CROSS JOIN (SELECT unnest(['delta','hudi','iceberg']) AS fmt)
    """,
)
def dest_schema_evolution_trio(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution THROUGH the destination protocol, all three
    open formats: a narrow table takes a MERGE whose batch carries a
    NEW column, and the widened schema must land in the same commit —
    Iceberg adds the field id, Delta evolves the metaData schemaString
    (the r8 fix: segment-copy and DV-merge commits previously landed
    the data but left the declared schema stale, silently dropping
    the column from every read), Hudi group rewrites carry the evolved
    schema with old groups footer-merged and null-filled. Pre-widening
    rows read as NULL in the new column. The oracle computes the
    expected post-evolution state relationally for each format."""
    from .package import PackageBuilder
    from .package.delta_dest import DeltaDestination
    from .package.hudi_dest import HudiDestination
    from .package.iceberg_dest import IcebergDestination
    from .sources.base import WriteDisposition

    kinds = {
        "delta": DeltaDestination,
        "hudi": HudiDestination,
        "iceberg": IcebergDestination,
    }

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        for fmt, mk in kinds.items():
            dest = mk(f"{tmp}/{fmt}", merge_keys=["o_orderkey"])
            builder = PackageBuilder(f"{tmp}/pkgs_{fmt}", f"orders_{fmt}")
            narrow = builder.build(admitted=o.filter(F.col("o_orderkey") <= 200))
            r1 = dest.verify(
                spark, dest.commit(spark, narrow, WriteDisposition.APPEND), narrow
            )
            wide = builder.build(
                admitted=o.filter(F.col("o_orderkey") <= 100)
                .withColumn("o_totalprice", F.lit(-1.0))
                .withColumn("o_note", F.lit("m"))
            )
            r2 = dest.verify(
                spark, dest.commit(spark, wide, WriteDisposition.MERGE), wide
            )
            if not (r1.verified and r2.verified):
                raise RuntimeError(f"{fmt} widening commit failed verification")

    tmp = _session_fixture("dest_widen_trio", sf, build)
    parts = [
        kinds[fmt](f"{tmp}/{fmt}", merge_keys=["o_orderkey"])
        .read(spark)
        .select(
            F.lit(fmt).alias("fmt"), "o_orderkey", "o_totalprice", "o_note"
        )
        for fmt in kinds
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "hudi_dest_replace",
    """
    WITH replaced AS (
      SELECT o_orderkey, o_custkey, -9.0 AS o_totalprice FROM orders
      WHERE o_orderkey > 500 AND o_orderkey <= 700
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey <= 550 THEN -5.0 ELSE o_totalprice END AS o_totalprice
    FROM replaced
    """,
)
def hudi_dest_replace(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi REPLACE disposition (INSERT_OVERWRITE_TABLE as a
    `.replacecommit`): the commit's partitionToReplaceFileIds marks
    every live group dark with NO file deleted — time travel to
    pre-replace instants keeps resolving, the cleaner reclaims later.
    The fixture appends a base, REPLACES it with a subset, then MERGES
    an update into the post-replace groups; the final state is exactly
    replace-then-merge, which the oracle recomputes relationally."""
    from .package import PackageBuilder
    from .package.hudi_dest import HudiDestination
    from .sources.base import WriteDisposition

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        dest = HudiDestination(f"{tmp}/t", merge_keys=["o_orderkey"])
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_hr")
        base = builder.build(admitted=o.filter(F.col("o_orderkey") <= 900))
        r1 = dest.verify(spark, dest.commit(spark, base, WriteDisposition.APPEND), base)
        rep = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 700)
            ).withColumn("o_totalprice", F.lit(-9.0))
        )
        r2 = dest.verify(spark, dest.commit(spark, rep, WriteDisposition.REPLACE), rep)
        upd = builder.build(
            admitted=o.filter(
                (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 550)
            ).withColumn("o_totalprice", F.lit(-5.0))
        )
        r3 = dest.verify(spark, dest.commit(spark, upd, WriteDisposition.MERGE), upd)
        if not (r1.verified and r2.verified and r3.verified):
            raise RuntimeError("hudi replace sequence failed receipt verification")

    tmp = _session_fixture("hudi_dest_rep", sf, build)
    return HudiDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


# ---------------------------------------------------------------------------
# r11 second wave: distributed NB classifier train+predict, embedding-space
# decontamination, temperature token-budget corpus mixing
# ---------------------------------------------------------------------------


@_register(
    "nb_classifier_train",
    """
    WITH toks AS (
      SELECT d.lang AS label, t.tok
      FROM documents d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT label, tok, COUNT(*) AS c FROM toks GROUP BY label, tok),
    vv AS (SELECT COUNT(DISTINCT tok) AS v FROM counts),
    n AS (SELECT label, CAST(SUM(c) AS BIGINT) AS n_label FROM counts GROUP BY label)
    SELECT counts.label, counts.tok, counts.c,
           CAST(round((ln(c + 1.0) - ln(CAST(n_label AS DOUBLE) + v)) * 1000000.0) AS BIGINT) AS lp_unat
    FROM counts JOIN n USING (label) CROSS JOIN vv
    """,
)
def nb_classifier_train(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed multinomial NAIVE BAYES training
    (`operators/classifier.nb_train`) — the model-training member the
    text-classifier story was missing (the suite already TRAINS a BPE
    tokenizer and an n-gram LM; the quality/language classifier stage
    previously only APPLIED fixed weights, quality_clf_filter). NB fit
    is closed form — per-(label, token) counts + per-label totals —
    so the whole fit is two map-side-combinable aggregations: the
    honest 100 TB training choice (no gradient iterations, no driver
    round-trips) AND exactly replayable in SQL. Micro-nat integer
    log-probs (the lm_perplexity_scores discipline) make the model
    table bit-identical across engines. Model = O(vocab x labels)
    rows — a broadcastable artifact at any corpus scale."""
    from .operators.classifier import nb_train

    return nb_train(_t(spark, sf, "documents"))


@_register(
    "nb_classifier_predict",
    """
    WITH toks AS (
      SELECT doc_id AS _id, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    ltoks AS (
      SELECT d.lang AS _cand, t.tok
      FROM documents d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT _cand, tok, COUNT(*) AS c FROM ltoks GROUP BY _cand, tok),
    vv AS (SELECT COUNT(DISTINCT tok) AS v FROM counts),
    n AS (SELECT _cand, CAST(SUM(c) AS BIGINT) AS n_label FROM counts GROUP BY _cand),
    model AS (
      SELECT _cand, tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_label AS DOUBLE) + v)) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts JOIN n USING (_cand) CROSS JOIN vv
    ),
    dtot AS (SELECT COUNT(*) AS d FROM documents),
    lab AS (
      SELECT n._cand,
             CAST(round((ln(CAST(dl.d_l AS DOUBLE)) - ln(CAST(dtot.d AS DOUBLE))) * 1000000.0) AS BIGINT) AS prior_unat,
             CAST(round((0.0 - ln(CAST(n.n_label AS DOUBLE) + vv.v)) * 1000000.0) AS BIGINT) AS oov_unat
      FROM n CROSS JOIN vv CROSS JOIN dtot
      JOIN (SELECT lang AS _cand, COUNT(*) AS d_l FROM documents GROUP BY lang) dl USING (_cand)
    ),
    scored AS (
      SELECT t._id, l._cand,
             CAST(SUM(COALESCE(m.lp_unat, l.oov_unat)) AS BIGINT) + ANY_VALUE(l2.prior_unat) AS score_unat
      FROM toks t
      CROSS JOIN (SELECT _cand, oov_unat FROM lab) l
      LEFT JOIN model m ON m._cand = l._cand AND m.tok = t.tok
      JOIN lab l2 ON l2._cand = l._cand
      GROUP BY t._id, l._cand
    ),
    ranked AS (
      SELECT _id, _cand, score_unat,
             row_number() OVER (PARTITION BY _id ORDER BY score_unat DESC, _cand ASC) AS rn,
             score_unat - lead(score_unat, 1) OVER (PARTITION BY _id ORDER BY score_unat DESC, _cand ASC) AS gap
      FROM scored
    )
    SELECT r._id AS doc_id, d.lang AS label, r._cand AS predicted, r.score_unat,
           CAST(COALESCE(r.gap, 0) AS BIGINT) AS margin_unat
    FROM ranked r JOIN documents d ON d.doc_id = r._id
    WHERE r.rn = 1
    """,
)
def nb_classifier_predict(spark: SparkSession, sf: str) -> DataFrame:
    """NB language-ID PREDICTION over the corpus
    (`operators/classifier.nb_predict`) — train-and-score end to end,
    the fastText-language-ID analog of CCNet's first pipeline stage:
    predicted = argmax_label [prior + sum token log-probs], OOV
    tokens under a label falling back to the smoothed floor. All
    scores are exact INTEGER micro-nat sums, so the per-doc argmax
    (and the margin to the runner-up — the abstention signal a
    curation gate thresholds on) is deterministic across engines,
    partitionings, and runs. Shape: token stream x broadcast(labels)
    -> left join broadcast(model) -> one (doc, label) agg -> per-doc
    window argmax: 2 shuffles + broadcasts, zero Python, no driver
    iteration at any corpus size."""
    from .operators.classifier import nb_predict

    return nb_predict(_t(spark, sf, "documents"))


@_register(
    "embedding_decontamination_report",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
    corp AS (SELECT vec_id AS id, e FROM c WHERE label < 8),
    ev AS (SELECT vec_id AS eid, e AS ee FROM c WHERE label >= 8),
    scored AS (
      SELECT id, eid, round(list_cosine_similarity(e, ee), 4) AS sim
      FROM corp CROSS JOIN ev
    ),
    best AS (
      SELECT id, eid, sim,
             row_number() OVER (PARTITION BY id ORDER BY sim DESC, eid ASC) AS rn
      FROM scored
    )
    SELECT id AS vec_id, eid AS matched_eval_id, sim AS max_sim,
           sim >= 0.8 AS contaminated
    FROM best WHERE rn = 1
    """,
)
def embedding_decontamination_report(spark: SparkSession, sf: str) -> DataFrame:
    """EMBEDDING-SPACE decontamination
    (`operators/curation.embedding_decontamination`) — the semantic
    sibling of the n-gram decontamination family: paraphrased
    benchmark leakage shares no 4-gram with its source but sits at
    high cosine in embedding space (the SemDeDup/Phi semantic-
    contamination gate). Every corpus vector reports its nearest
    eval-set item and whether it crosses the threshold. The eval set
    is bounded by benchmark size, so it BROADCASTS and the corpus
    streams through one narrow scoring pass + per-vector argmax — no
    corpus x corpus pair ever materializes; at 100 TB this is one
    shuffle on the corpus id. Label split: labels 8-9 stand in as the
    'benchmark' vectors, 0-7 as the training corpus."""
    from .operators.curation import embedding_decontamination

    emb = _t(spark, sf, "embeddings")
    return embedding_decontamination(
        emb.filter("label < 8"), emb.filter("label >= 8"), threshold=0.8
    )


@_register(
    "token_budget_sample_docs",
    """
    WITH toks AS (
      SELECT doc_id AS _id, source AS domain,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    dom AS (SELECT domain, CAST(SUM(n_tokens) AS BIGINT) AS nd FROM toks GROUP BY domain),
    s AS (SELECT domain, CAST(round(sqrt(CAST(nd AS DOUBLE)) * 1000000.0) AS BIGINT) AS sw FROM dom),
    tot AS (SELECT CAST(SUM(sw) AS BIGINT) AS stot FROM s),
    tgt AS (
      SELECT domain, CAST((CAST(20000 AS BIGINT) * sw) // stot AS BIGINT) AS target_tokens
      FROM s CROSS JOIN tot
    ),
    ranked AS (
      SELECT t._id, t.domain, t.n_tokens, g.target_tokens,
             row_number() OVER (PARTITION BY t.domain
               ORDER BY md5(CAST(t._id AS VARCHAR)), t._id) AS pick_order,
             CAST(SUM(t.n_tokens) OVER (PARTITION BY t.domain
               ORDER BY md5(CAST(t._id AS VARCHAR)), t._id) AS BIGINT) AS cum_tokens
      FROM toks t JOIN tgt g USING (domain)
    )
    SELECT _id AS doc_id, domain, n_tokens, pick_order, cum_tokens, target_tokens
    FROM ranked WHERE cum_tokens - n_tokens < target_tokens
    """,
)
def token_budget_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """TEMPERATURE-WEIGHTED token-budget corpus mixing
    (`operators/packing.token_budget_sample`) — the stage between
    curation and packing that turns "20k training tokens, alpha=0.5"
    into an exact document selection: per-domain targets by the
    n_d^alpha temperature rule (the mBERT/XLM-R multilingual
    up-sampling law; alpha=1 = natural proportions), filled in
    deterministic md5 order until each target is met.
    `domain_mix_sample` gates rows at hand-picked RATES (approximate
    counts); this hits an exact TOKEN budget — the unit a trainer
    provisions. Integer discipline end to end: temperature weights
    pinned to micro-units before normalization, targets by integer
    division, cumulative sums exact — bit-identical across engines.
    2 shuffles (domain agg broadcast back, per-domain window) at any
    corpus size; sqrt (not pow) for the default alpha because sqrt is
    IEEE-correctly-rounded in both engines."""
    from .operators.packing import token_budget_sample

    return token_budget_sample(
        _t(spark, sf, "documents"), budget_tokens=20_000, alpha=0.5
    )


@_register(
    "nb_index_incremental",
    """
    WITH toks AS (
      SELECT doc_id AS _id, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    ltoks AS (
      SELECT d.lang AS _cand, t.tok
      FROM documents d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT _cand, tok, COUNT(*) AS c FROM ltoks GROUP BY _cand, tok),
    vv AS (SELECT COUNT(DISTINCT tok) AS v FROM counts),
    n AS (SELECT _cand, CAST(SUM(c) AS BIGINT) AS n_label FROM counts GROUP BY _cand),
    model AS (
      SELECT _cand, tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_label AS DOUBLE) + v)) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts JOIN n USING (_cand) CROSS JOIN vv
    ),
    dtot AS (SELECT COUNT(*) AS d FROM documents),
    lab AS (
      SELECT n._cand,
             CAST(round((ln(CAST(dl.d_l AS DOUBLE)) - ln(CAST(dtot.d AS DOUBLE))) * 1000000.0) AS BIGINT) AS prior_unat,
             CAST(round((0.0 - ln(CAST(n.n_label AS DOUBLE) + vv.v)) * 1000000.0) AS BIGINT) AS oov_unat
      FROM n CROSS JOIN vv CROSS JOIN dtot
      JOIN (SELECT lang AS _cand, COUNT(*) AS d_l FROM documents GROUP BY lang) dl USING (_cand)
    ),
    scored AS (
      SELECT t._id, l._cand,
             CAST(SUM(COALESCE(m.lp_unat, l.oov_unat)) AS BIGINT) + ANY_VALUE(l2.prior_unat) AS score_unat
      FROM toks t
      CROSS JOIN (SELECT _cand, oov_unat FROM lab) l
      LEFT JOIN model m ON m._cand = l._cand AND m.tok = t.tok
      JOIN lab l2 ON l2._cand = l._cand
      GROUP BY t._id, l._cand
    ),
    ranked AS (
      SELECT _id, _cand, score_unat,
             row_number() OVER (PARTITION BY _id ORDER BY score_unat DESC, _cand ASC) AS rn,
             score_unat - lead(score_unat, 1) OVER (PARTITION BY _id ORDER BY score_unat DESC, _cand ASC) AS gap
      FROM scored
    )
    SELECT _id AS doc_id, _cand AS predicted, score_unat,
           CAST(COALESCE(gap, 0) AS BIGINT) AS margin_unat
    FROM ranked WHERE rn = 1
    """,
)
def nb_index_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL persisted NB classifier
    (`operators/classifier.NBIndex`) — the growing-corpus shape of
    nb_classifier_predict: the labeled corpus folds in through THREE
    `update()` batches (NB sufficient statistics are pure counts, so
    each fold is O(batch) token work + an O(vocab x labels) merge
    with the suite's version-directory crash-safe swap), then every
    document scores against the STORED model with zero corpus
    re-training. Because counts ADD exactly, the fully-folded index
    is bit-identical to a one-shot fit — the oracle is the same
    relational recompute, and any merge drift (lost batch, double
    count, stale version read) hash-mismatches."""
    from .operators.classifier import NBIndex

    def build(tmp: str) -> None:
        docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
        idx = NBIndex(f"{tmp}/nb")
        third = F.abs(F.xxhash64("doc_id")) % 3
        for i in range(3):
            idx.update(spark, docs.filter(third == i))

    tmp = _session_fixture("nb_index", sf, build)
    return NBIndex(f"{tmp}/nb").predict(
        spark, _t(spark, sf, "documents").select("doc_id", "text")
    )


@_register(
    "hudi_bloom_routed_upsert",
    """
    WITH ga AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey <= 1000 AND o_orderkey % 2 = 1
    ),
    gb AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey <= 1000 AND o_orderkey % 2 = 0
    ),
    batch AS (
      SELECT o_orderkey, o_custkey, -7.0 AS o_totalprice FROM orders
      WHERE o_orderkey <= 1000 AND o_orderkey % 50 = 5
    )
    SELECT * FROM ga WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM gb WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def hudi_bloom_routed_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi BLOOM-INDEX routing (`package/hudi_dest.py key_index=
    "bloom"` — the HoodieBloomIndex candidate cut): two file groups
    with fully INTERLEAVED key ranges (odd vs even keys — footer
    min/max stats cannot separate them), then a MERGE whose keys
    (x % 50 = 5, all odd) live only in the odd group. The per-group
    8 KiB bloom over merge-key tuples proves the even group holds no
    batch key, so the routing scan reads ONE group where stats-only
    routing reads two — the scattered-key pruning a streaming-upsert
    table needs at 100 TB (stats pruning only helps monotonic keys).
    The fixture asserts the single-group routing scan; the oracle
    recomputes the merge relationally, so any bloom false NEGATIVE
    (which would lose an update) hash-mismatches."""
    from .package import PackageBuilder
    from .package.hudi_dest import HudiDestination
    from .sources.base import WriteDisposition

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        le = o.filter(F.col("o_orderkey") <= 1000)
        dest = HudiDestination(
            f"{tmp}/t", merge_keys=["o_orderkey"], key_index="bloom"
        )
        builder = PackageBuilder(f"{tmp}/pkgs", "orders_hb")
        ga = builder.build(admitted=le.filter(F.col("o_orderkey") % 2 == 1))
        r1 = dest.verify(spark, dest.commit(spark, ga, WriteDisposition.APPEND), ga)
        gb = builder.build(admitted=le.filter(F.col("o_orderkey") % 2 == 0))
        r2 = dest.verify(spark, dest.commit(spark, gb, WriteDisposition.APPEND), gb)
        batch = builder.build(
            admitted=le.filter(F.col("o_orderkey") % 50 == 5).withColumn(
                "o_totalprice", F.lit(-7.0)
            )
        )
        r3 = dest.verify(spark, dest.commit(spark, batch, WriteDisposition.MERGE), batch)
        if not (r1.verified and r2.verified and r3.verified):
            raise RuntimeError("hudi bloom upsert receipt failed verification")
        if len(dest._last_routing_scan_paths) != 1:
            raise AssertionError(
                "bloom routing did not prune the interleaved-range group: "
                f"{dest._last_routing_scan_paths}"
            )

    tmp = _session_fixture("hudi_bloom_up", sf, build)
    return HudiDestination(f"{tmp}/t", merge_keys=["o_orderkey"]).read(spark)


@_register(
    "delta_bloom_point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey <= 1000 AND o_orderkey % 100 = 1
    """,
)
def delta_bloom_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """BLOOM data skipping on a Delta scan (`sources/bloom_index.py` —
    the Delta bloom-filter-index analog): two files with fully
    INTERLEAVED key ranges (odd vs even — min/max stats span the whole
    domain and prune NOTHING), a per-file 8 KiB bloom index on the key
    column, then point lookups on odd keys. The fixture asserts every
    probed scan pruned the even file BY BLOOM (stats pruned zero) —
    the high-cardinality point-lookup case where bounds are useless at
    any scale. The oracle recomputes the lookups relationally, so a
    bloom false NEGATIVE (a lost row) hash-mismatches. Sidecars are
    8 KiB per (file, column), read O(candidate files) at plan time —
    the same metadata budget the footer-stats path already spends."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        le = o.filter(F.col("o_orderkey") <= 1000)
        w = DeltaFixtureWriter(f"{tmp}/t")
        w.append(le.filter(F.col("o_orderkey") % 2 == 1), timestamp_ms=1_000)
        w.append(le.filter(F.col("o_orderkey") % 2 == 0), timestamp_ms=2_000)
        t = DeltaTable(f"{tmp}/t")
        res = t.build_bloom_index(spark, "o_orderkey")
        if res["built"] != 2:
            raise AssertionError(f"expected 2 sidecars, built {res}")

    tmp = _session_fixture("delta_bloom", sf, build)
    t = DeltaTable(f"{tmp}/t")
    keys = [
        int(r[0])
        for r in _t(spark, sf, "orders")
        .filter("o_orderkey <= 1000 AND o_orderkey % 100 = 1")
        .select("o_orderkey")
        .collect()
    ]
    parts = []
    for k in sorted(keys):
        df, plan = t.scan(
            spark, ScanRequest("t", predicates=[Col("o_orderkey") == Lit(k)])
        )
        meta = plan.partitions.meta
        if meta["files_pruned_by_bloom"] != 1 or meta["files_pruned_by_stats"] != 0:
            raise AssertionError(f"bloom did not prune the sibling file: {meta}")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "iceberg_bloom_point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey <= 1000 AND o_orderkey % 100 = 1
    """,
)
def iceberg_bloom_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """BLOOM data skipping on an Iceberg scan — same shared sidecar
    index as `delta_bloom_point_lookup`, consulted by the manifest
    pruning path (`iceberg.data_files_pruned`) AFTER bounds and
    partition pruning: interleaved odd/even files whose manifest
    min/max cannot be separated, pruned per point lookup by the
    per-file bloom. Linked files (metadata translation) never consult
    or build this index — their sidecars belong to the source table.
    The oracle recomputes the lookups relationally."""
    from .expressions.ast import Col, Lit
    from .plans.scan import ScanRequest
    from .sources.iceberg import IcebergFixtureWriter, IcebergTable

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        le = o.filter(F.col("o_orderkey") <= 1000)
        w = IcebergFixtureWriter(f"{tmp}/t", seed=23)
        w.append(le.filter(F.col("o_orderkey") % 2 == 1), timestamp_ms=1_000, snapshot_id=301)
        w.append(le.filter(F.col("o_orderkey") % 2 == 0), timestamp_ms=2_000, snapshot_id=302)
        t = IcebergTable(f"{tmp}/t")
        res = t.build_bloom_index(spark, "o_orderkey")
        if res["built"] != 2:
            raise AssertionError(f"expected 2 sidecars, built {res}")

    tmp = _session_fixture("ice_bloom", sf, build)
    t = IcebergTable(f"{tmp}/t")
    keys = [
        int(r[0])
        for r in _t(spark, sf, "orders")
        .filter("o_orderkey <= 1000 AND o_orderkey % 100 = 1")
        .select("o_orderkey")
        .collect()
    ]
    parts = []
    for k in sorted(keys):
        df, plan = t.scan(
            spark, ScanRequest("t", predicates=[Col("o_orderkey") == Lit(k)])
        )
        meta = plan.partitions.meta
        if meta["files_pruned_by_bloom"] != 1:
            raise AssertionError(f"bloom did not prune the sibling file: {meta}")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _nb_online_epoch_oracle(epoch: int, train_where: str, score_where: str) -> str:
    """One epoch of the ONLINE-classification oracle: the full NB
    predict pipeline with the model fit ONLY on `train_where` docs
    (the corpus folded before this epoch) scoring ONLY `score_where`
    docs (this epoch's batch) — the same chained-replay discipline the
    BPE oracle uses, so a wrong fold in ANY earlier epoch diverges
    every later epoch's scores."""
    return f"""
    SELECT CAST({epoch} AS BIGINT) AS epoch, doc_id, predicted, score_unat, margin_unat
    FROM (
      WITH toks AS (
        SELECT doc_id AS _id, t.tok
        FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
        WHERE t.tok <> '' AND ({score_where})
      ),
      ltoks AS (
        SELECT d.lang AS _cand, t.tok
        FROM documents d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(tok)
        WHERE t.tok <> '' AND ({train_where})
      ),
      counts AS (SELECT _cand, tok, COUNT(*) AS c FROM ltoks GROUP BY _cand, tok),
      vv AS (SELECT COUNT(DISTINCT tok) AS v FROM counts),
      n AS (SELECT _cand, CAST(SUM(c) AS BIGINT) AS n_label FROM counts GROUP BY _cand),
      model AS (
        SELECT _cand, tok,
               CAST(round((ln(c + 1.0) - ln(CAST(n_label AS DOUBLE) + v)) * 1000000.0) AS BIGINT) AS lp_unat
        FROM counts JOIN n USING (_cand) CROSS JOIN vv
      ),
      dtot AS (SELECT COUNT(*) AS d FROM documents WHERE {train_where}),
      lab AS (
        SELECT n._cand,
               CAST(round((ln(CAST(dl.d_l AS DOUBLE)) - ln(CAST(dtot.d AS DOUBLE))) * 1000000.0) AS BIGINT) AS prior_unat,
               CAST(round((0.0 - ln(CAST(n.n_label AS DOUBLE) + vv.v)) * 1000000.0) AS BIGINT) AS oov_unat
        FROM n CROSS JOIN vv CROSS JOIN dtot
        JOIN (SELECT lang AS _cand, COUNT(*) AS d_l FROM documents WHERE {train_where} GROUP BY lang) dl USING (_cand)
      ),
      scored AS (
        SELECT t._id, l._cand,
               CAST(SUM(COALESCE(m.lp_unat, l.oov_unat)) AS BIGINT) + ANY_VALUE(l2.prior_unat) AS score_unat
        FROM toks t
        CROSS JOIN (SELECT _cand, oov_unat FROM lab) l
        LEFT JOIN model m ON m._cand = l._cand AND m.tok = t.tok
        JOIN lab l2 ON l2._cand = l._cand
        GROUP BY t._id, l._cand
      ),
      ranked AS (
        SELECT _id, _cand, score_unat,
               row_number() OVER (PARTITION BY _id ORDER BY score_unat DESC, _cand ASC) AS rn,
               score_unat - lead(score_unat, 1) OVER (PARTITION BY _id ORDER BY score_unat DESC, _cand ASC) AS gap
        FROM scored
      )
      SELECT _id AS doc_id, _cand AS predicted, score_unat,
             CAST(COALESCE(gap, 0) AS BIGINT) AS margin_unat
      FROM ranked WHERE rn = 1
    )
    """


_NB_BOUNDS = [(0, 166), (166, 333), (333, 10_000_000)]


@_register(
    "streaming_nb_classify_drain",
    _nb_online_epoch_oracle(1, "doc_id < 166", "doc_id >= 166 AND doc_id < 333")
    + " UNION ALL "
    + _nb_online_epoch_oracle(2, "doc_id < 333", "doc_id >= 333"),
)
def streaming_nb_classify_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING online classification — the shape a continuously-
    labeled corpus actually runs: a real readStream drain where every
    micro-batch (a) is CLASSIFIED against the persisted NB model built
    from everything ingested BEFORE it (epoch 0 has no model yet and
    only trains), then (b) folds its own labels into the index
    (`foreachBatch` over `NBIndex`, starting EMPTY). Per-epoch cost is
    O(batch) token work + the bounded O(vocab x labels) model merge —
    the corpus never re-fits, the whole point at 100 TB ingest rates.

    foreachBatch is AT-LEAST-ONCE: predictions land in per-epoch
    overwrite dirs (idempotent) and `update(epoch=)` carries the
    replay fence — a redelivered epoch's fold is skipped, because NB
    counts are NOT idempotent under re-addition and a double fold
    would silently shift every later epoch's scores. The oracle
    replays both scored epochs as full chained NB pipelines (the BPE
    chained-CTE discipline): any wrong fold, double count, or stale
    model read diverges the integer scores and hash-mismatches."""
    from .operators.classifier import NBIndex

    def build(tmp: str) -> None:
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(_NB_BOUNDS):
            stage = tempfile.mkdtemp(prefix="cdf_snb_part_")
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(stage, ignore_errors=True)

        idx = NBIndex(f"{tmp}/nb")

        def handle(batch_df, epoch_id: int) -> None:
            # the epoch rides the hive dir name (epoch=N) so replayed
            # epochs overwrite idempotently and the final read gets it
            # back as a partition column. BOTH side effects are fenced
            # on the fold watermark: a redelivery AFTER the fold landed
            # must skip the predict too — re-scoring against a model
            # that now contains this epoch's own labels would overwrite
            # the output with scores trained on different data.
            meta = idx._meta()
            if meta is not None and int(epoch_id) <= meta.get("last_epoch", -1):
                return  # fully-processed epoch redelivered
            if meta is not None:
                (
                    idx.predict(spark, batch_df.select("doc_id", "text"))
                    .select("doc_id", "predicted", "score_unat", "margin_unat")
                    .write.mode("overwrite")
                    .parquet(f"{tmp}/out/epoch={epoch_id}")
                )
            idx.update(spark, batch_df, epoch=int(epoch_id))

        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_nb_classify", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        F.col("epoch").cast("long").alias("epoch"),
        "doc_id",
        "predicted",
        "score_unat",
        "margin_unat",
    )


# ---------------------------------------------------------------------------
# DSIR data selection (r12)

def _dsir_oracle(
    raw_where: str = "doc_id % 97 <> 0",
    score_where: str = "doc_id % 97 <> 0",
    epoch: int | None = None,
    topk: int | None = 200,
) -> str:
    """The full DSIR replay, parameterized for the incremental index
    and online drain: `raw_where` cuts the raw-model corpus (for a
    drain epoch: everything folded BEFORE it), `score_where` cuts the
    scored batch; the target model is always the doc_id % 97 = 0
    reference split. `topk` ranks and cuts (the one-shot selection
    query); None emits per-doc weights (the drain shape)."""
    head = (
        f"SELECT CAST({epoch} AS BIGINT) AS epoch, doc_id, n_feats, lw_unat FROM ("
        if epoch is not None
        else ""
    )
    tail = ")" if epoch is not None else ""
    if topk is not None:
        sel = f"""
    SELECT doc_id, n_feats, lw_unat,
           row_number() OVER (ORDER BY lw_unat DESC, doc_id ASC) AS rk
    FROM scored
    ORDER BY lw_unat DESC, doc_id ASC
    LIMIT {topk}"""
    else:
        sel = "\n    SELECT doc_id, n_feats, lw_unat FROM scored"
    return f"""
    {head}
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             unnest(
               [CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 4096 for t in ts]
               ||
               [CAST(('0x'||substr(md5(ts[i]||' '||ts[i+1]),1,15)) AS BIGINT) % 4096
                for i in range(1, len(ts))]
             ) AS b
      FROM toks
    ),
    t_counts AS (SELECT b, COUNT(*) AS c FROM feats WHERE doc_id % 97 = 0 GROUP BY b),
    r_counts AS (
      SELECT b, COUNT(*) AS c FROM feats
      WHERE doc_id % 97 <> 0 AND ({raw_where}) GROUP BY b
    ),
    t_tot AS (SELECT COALESCE(SUM(c), 0) AS n FROM t_counts),
    r_tot AS (SELECT COALESCE(SUM(c), 0) AS n FROM r_counts),
    t_model AS (
      SELECT b, CAST(round((ln(c + 1.0) - ln(n + 4096)) * 1000000.0) AS BIGINT) AS lp_t
      FROM t_counts, t_tot
    ),
    r_model AS (
      SELECT b, CAST(round((ln(c + 1.0) - ln(n + 4096)) * 1000000.0) AS BIGINT) AS lp_r
      FROM r_counts, r_tot
    ),
    t_floor AS (SELECT CAST(round((0.0 - ln(n + 4096)) * 1000000.0) AS BIGINT) AS f FROM t_tot),
    r_floor AS (SELECT CAST(round((0.0 - ln(n + 4096)) * 1000000.0) AS BIGINT) AS f FROM r_tot),
    scored AS (
      SELECT f.doc_id,
             COUNT(*) AS n_feats,
             CAST(SUM(COALESCE(lp_t, (SELECT f FROM t_floor))
                 - COALESCE(lp_r, (SELECT f FROM r_floor))) AS BIGINT) AS lw_unat
      FROM feats f
      LEFT JOIN t_model USING (b)
      LEFT JOIN r_model USING (b)
      WHERE f.doc_id % 97 <> 0 AND ({score_where})
      GROUP BY f.doc_id
    )
    {sel}
    {tail}
    """


_DSIR_ORACLE = _dsir_oracle()


@_register("dsir_select_docs", _DSIR_ORACLE)
def dsir_select_docs(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): pick the 200 raw docs
    whose hashed-n-gram bag looks most like the target split
    (doc_id % 97 = 0 — the same held-out split the decontamination
    family treats as the benchmark set). Both bucket models broadcast;
    one shuffle over the corpus; exact integer micro-nat weights.
    Oracle replays the full feature-hash -> two bag models -> log-ratio
    -> top-k pipeline."""
    from .operators.curation import dsir_select

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return dsir_select(corpus, target, k=200, dim=4096)


# ---------------------------------------------------------------------------
# BM25 retrieval (r12)

_BM25_QUERIES = [
    ("q1", "hash join merge"),
    ("q2", "window agg stream"),
    ("q3", "fast table scan vector"),
]

def _bm25_oracle(corpus_where: str = "TRUE", k: int = 10, epoch: int | None = None) -> str:
    """The full BM25 replay, parameterized for the online drain: the
    corpus cut is everything folded BEFORE an epoch, and the epoch
    literal tags the rows (same chained-replay discipline as the NB /
    ANN drains — a wrong fold in any earlier epoch diverges every
    later epoch's rankings)."""
    head = (
        f"SELECT CAST({epoch} AS BIGINT) AS epoch, qid, doc_id, score_unat, rk FROM ("
        if epoch is not None
        else ""
    )
    tail = ")" if epoch is not None else ""
    return f"""
    {head}
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents WHERE {corpus_where}
    ),
    stats AS (SELECT COUNT(*) AS n, COALESCE(SUM(len(ts)), 0) AS total FROM toks),
    flat AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks),
    tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM flat GROUP BY doc_id, dl, tok),
    qterms AS (
      SELECT * FROM (VALUES
        ('q1','hash'),('q1','join'),('q1','merge'),
        ('q2','window'),('q2','agg'),('q2','stream'),
        ('q3','fast'),('q3','table'),('q3','scan'),('q3','vector')
      ) AS q(qid, tok)
    ),
    dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf
      WHERE tok IN (SELECT tok FROM qterms) GROUP BY tok
    ),
    scored AS (
      SELECT q.qid, tf.doc_id,
             CAST(round(
               ln(1.0 + (n - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total AS DOUBLE) / n)))
               * 1000000.0
             ) AS BIGINT) AS s
      FROM tf JOIN qterms q USING (tok) JOIN dfreq USING (tok), stats
    ),
    agg AS (SELECT qid, doc_id, CAST(SUM(s) AS BIGINT) AS score_unat FROM scored GROUP BY qid, doc_id),
    ranked AS (
      SELECT qid, doc_id, score_unat,
             row_number() OVER (PARTITION BY qid ORDER BY score_unat DESC, doc_id ASC) AS rk
      FROM agg
    )
    SELECT qid, doc_id, score_unat, rk FROM ranked WHERE rk <= {k}
    {tail}
    """


_BM25_ORACLE = _bm25_oracle()


def _bm25_query_df(spark: SparkSession):
    return spark.createDataFrame(_BM25_QUERIES, ["qid", "qtext"])


@_register("bm25_topk_docs", _BM25_ORACLE)
def bm25_topk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 ranked retrieval: top-10 documents per query for a
    3-query set over the documents table. Integer micro-unit partial
    scores (exact order-independent sums); query terms, their document
    frequencies, and the corpus stats all broadcast/bounded; 2
    shuffles at any corpus size. Oracle replays the full tf/df/idf/
    length-normalization pipeline."""
    from .operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), _bm25_query_df(spark), k=10)


@_register("bm25_index_incremental", _BM25_ORACLE)
def bm25_index_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """The growing-corpus form: an `InvertedIndex` folded in THREE
    batches (doc_id % 3 splits), probed with the same query set — the
    folded probe must be bit-identical to the one-shot BM25 oracle
    over the whole corpus (BM25 sufficient statistics are pure counts,
    so folds are exact; any drift in tf/df/N/avgdl folding
    hash-mismatches). Probe reads only the term-hash buckets the
    query terms touch — O(query postings), not O(index)."""
    from .operators.retrieval import InvertedIndex

    def build(tmp: str) -> None:
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        idx = InvertedIndex(f"{tmp}/bm25")
        idx.build(spark, docs.filter(F.col("doc_id") % 3 == 0))
        idx.add(spark, docs.filter(F.col("doc_id") % 3 == 1))
        idx.add(spark, docs.filter(F.col("doc_id") % 3 == 2))

    tmp = _session_fixture("bm25_idx", sf, build)
    return InvertedIndex(f"{tmp}/bm25").query(spark, _bm25_query_df(spark), k=10)


# ---------------------------------------------------------------------------
# ANN index deletes + compaction (r12)


@_register(
    "ann_index_delete_compact",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 30 = 0),
    assigned AS (
      SELECT id, cluster FROM (
        SELECT c.vec_id AS id, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) x WHERE rn = 1 AND x.id % 7 <> 3
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
    probes AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, cents.cid AS cluster,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
      WHERE a.id != p.qid
    ),
    scored AS (
      SELECT cand.qid AS query_id, cand.id AS neighbor_id,
             round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
      FROM cand JOIN c qc ON qc.vec_id = cand.qid JOIN c cc ON cc.vec_id = cand.id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ann_index_delete_compact(spark: SparkSession, sf: str) -> DataFrame:
    """IVFIndex deletion + compaction lifecycle (r12): after the
    three-fold build, vectors with vec_id % 7 = 3 are DELETED
    (tombstone part, FAISS remove_ids semantics: postings leave, the
    frozen quantizer keeps every centroid), then the index COMPACTS
    (postings minus tombstones fold to one part; replaced dirs retired
    one mutation for in-flight readers). In-build assertions prove the
    compaction is a pure row-set rewrite: the pre-compact (anti-join)
    probe and the post-compact probe are bit-identical, and the
    compacted index is a single part with no tombstones. The oracle
    assigns only live rows against the ORIGINAL frozen centroid set —
    exactly what frozen-model deletion must produce."""
    from .operators.similarity import IVFIndex

    emb = _t(spark, sf, "embeddings")

    def build(tmp: str) -> None:
        idx = IVFIndex(f"{tmp}/ivf")
        idx.build(spark, emb.filter("vec_id % 3 = 0"), centroid_modulus=10, epoch=0)
        idx.add(spark, emb.filter("vec_id % 3 = 1"), epoch=1)
        idx.add(spark, emb.filter("vec_id % 3 = 2"), epoch=2)
        m = idx.delete(spark, emb.filter("vec_id % 7 = 3").select("vec_id"), epoch=3)
        replay = idx.delete(spark, emb.filter("vec_id % 7 = 3").select("vec_id"), epoch=3)
        if replay != m:
            raise AssertionError("replayed delete must be a fenced no-op")
        qs = emb.filter("vec_id < 20")
        before = sorted(map(tuple, idx.query(spark, qs, k=10, nprobe=4).collect()))
        mc = idx.compact(spark)
        if len(mc["parts"]) != 1 or mc["tombstones"]:
            raise AssertionError(f"compact must leave one part, no tombstones: {mc}")
        after = sorted(map(tuple, idx.query(spark, qs, k=10, nprobe=4).collect()))
        if before != after:
            raise AssertionError("compaction changed probe results")

    tmp = _session_fixture("ann_ivf_del_compact", sf, build)
    return IVFIndex(f"{tmp}/ivf").query(
        spark, emb.filter("vec_id < 20"), k=10, nprobe=4
    )


@_register(
    "streaming_bm25_index_drain",
    _bm25_oracle("doc_id < 166", 5, epoch=1)
    + " UNION ALL "
    + _bm25_oracle("doc_id < 333", 5, epoch=2),
)
def streaming_bm25_index_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING standing-query retrieval (r12) — the alerting shape a
    curation pipeline runs over a growing corpus ("tell me when
    target-looking documents arrive"): a real readStream drain where
    every micro-batch first re-evaluates the STANDING query set
    against the persisted `InvertedIndex` built from everything
    ingested BEFORE it (epoch 0 only builds), then folds its own
    documents in (O(batch) tokenize + one bucket-partitioned part
    append — the corpus never re-tokenizes). Rankings legitimately
    CHANGE across epochs as the corpus grows (df/N/avgdl shift —
    that's BM25, not nondeterminism), which is exactly what the
    chained oracle pins: each epoch's rows must equal the full BM25
    replay over its prior-ingest corpus cut. Both side effects are
    fenced on the index epoch watermark (a redelivery after the fold
    would re-rank against an index containing its own docs)."""
    from .operators.retrieval import InvertedIndex

    def build(tmp: str) -> None:
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        docs = _t(spark, sf, "documents").select("doc_id", "text")
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(_NB_BOUNDS):
            stage = tempfile.mkdtemp(prefix="cdf_sbm25_part_")
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(stage, ignore_errors=True)

        idx = InvertedIndex(f"{tmp}/bm25")

        def handle(batch_df, epoch_id: int) -> None:
            meta = idx._meta()
            if meta is not None and int(epoch_id) <= meta.get("last_epoch", -1):
                return  # fully-processed epoch redelivered
            if meta is None:
                idx.build(spark, batch_df, epoch=int(epoch_id))
                return
            (
                idx.query(spark, _bm25_query_df(spark), k=5)
                .write.mode("overwrite")
                .parquet(f"{tmp}/out/epoch={epoch_id}")
            )
            idx.add(spark, batch_df, epoch=int(epoch_id))

        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_bm25_index", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        F.col("epoch").cast("long").alias("epoch"),
        "qid",
        "doc_id",
        "score_unat",
        "rk",
    )


@_register("bm25_index_delete_compact", _bm25_oracle("doc_id % 7 <> 3", 10))
def bm25_index_delete_compact(spark: SparkSession, sf: str) -> DataFrame:
    """InvertedIndex deletion + compaction lifecycle (r12): after the
    three-fold build, docs with doc_id % 7 = 3 are DELETED — and
    unlike the vector index, BM25 deletion shifts the CORPUS
    STATISTICS (df, N, avgdl are live-set quantities), so the
    post-delete probe must equal a one-shot build over only the live
    docs, which is exactly what the oracle computes. N and Σdl adjust
    by point lookups in the per-fold lengths sidecars (never a
    postings scan); df re-derives from live postings at probe time.
    Then the index COMPACTS (postings+lengths minus tombstones fold
    to one part each, retire-then-sweep) and the in-build assertion
    proves compaction is a pure row-set rewrite: pre- and post-compact
    probes are bit-identical."""
    from .operators.retrieval import InvertedIndex

    def build(tmp: str) -> None:
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        idx = InvertedIndex(f"{tmp}/bm25")
        idx.build(spark, docs.filter(F.col("doc_id") % 3 == 0), epoch=0)
        idx.add(spark, docs.filter(F.col("doc_id") % 3 == 1), epoch=1)
        idx.add(spark, docs.filter(F.col("doc_id") % 3 == 2), epoch=2)
        m = idx.delete(spark, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"), epoch=3)
        replay = idx.delete(spark, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"), epoch=3)
        if replay != m:
            raise AssertionError("replayed delete must be a fenced no-op")
        before = sorted(
            map(tuple, idx.query(spark, _bm25_query_df(spark), k=10).collect())
        )
        mc = idx.compact(spark)
        if len(mc["parts"]) != 1 or len(mc["lparts"]) != 1 or mc["tombstones"]:
            raise AssertionError(f"compact must leave one part pair, no tombstones: {mc}")
        after = sorted(
            map(tuple, idx.query(spark, _bm25_query_df(spark), k=10).collect())
        )
        if before != after:
            raise AssertionError("compaction changed probe results")

    tmp = _session_fixture("bm25_idx_del_compact", sf, build)
    return InvertedIndex(f"{tmp}/bm25").query(spark, _bm25_query_df(spark), k=10)


@_register(
    "ivf_sq8_ann_topk",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    qc AS (
      SELECT vec_id,
             list_transform(e, x -> CAST(round(x / (list_max(list_transform(e, y -> abs(y))) / 127.0)) AS INTEGER)) AS q8
      FROM c
    ),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
    assigned AS (
      SELECT id, cluster FROM (
        SELECT c.vec_id AS id, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 20),
    probes AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, cents.cid AS cluster,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= 8
    ),
    cand AS (
      SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
      WHERE a.id != p.qid
    ),
    scored8 AS (
      SELECT cand.qid, cand.id,
             round(list_cosine_similarity(CAST(qq.q8 AS DOUBLE[]), CAST(cq.q8 AS DOUBLE[])), 4) AS csim
      FROM cand JOIN qc qq ON qq.vec_id = cand.qid JOIN qc cq ON cq.vec_id = cand.id
    ),
    short AS (
      SELECT qid, id FROM (
        SELECT qid, id,
               row_number() OVER (PARTITION BY qid ORDER BY csim DESC, id ASC) AS srank
        FROM scored8) WHERE srank <= 40
    ),
    rescored AS (
      SELECT s.qid AS query_id, s.id AS neighbor_id,
             round(list_cosine_similarity(qe2.e, ce2.e), 4) AS sim
      FROM short s JOIN c qe2 ON qe2.vec_id = s.qid JOIN c ce2 ON ce2.vec_id = s.id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM rescored
    )
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ivf_sq8_ann_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """IVF + SQ8 scalar-quantized ANN (r12): deterministic sampled
    centroids route queries; the candidate scan runs on int8 codes
    (4× less memory bandwidth than float32 — the lever when a 100 TB
    candidate scan is bandwidth-bound); the code-similarity shortlist
    re-scores exactly on the floats. Quantized cosine is exact across
    engines (integer code products sum exactly in double), so the
    WHOLE pipeline — quantization included — value-checks in SQL."""
    from .operators.similarity import ivf_sq8_ann_topk

    emb = _t(spark, sf, "embeddings")
    return ivf_sq8_ann_topk(
        emb, emb.filter("vec_id < 20"), k=10, nprobe=8, centroid_modulus=50, shortlist=4
    )


@_register("dsir_index_incremental", _DSIR_ORACLE)
def dsir_index_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted incremental DSIR selector (r12,
    `curation.DSIRIndex`): the target reference model freezes at
    build(); the raw-corpus bag model FOLDS per batch (bucket counts
    add, so the three-fold model is bit-identical to a one-shot fit —
    the NBIndex exactness argument), and the top-200 selection over
    the fully-folded index must equal the one-shot dsir_select_docs
    oracle. The fixture also proves the at-least-once replay fence."""
    from .operators.curation import DSIRIndex

    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    def build(tmp: str) -> None:
        idx = DSIRIndex(f"{tmp}/dsir")
        idx.build(spark, docs.filter(F.col("doc_id") % 97 == 0))
        idx.update(spark, corpus.filter(F.col("doc_id") % 3 == 0), epoch=0)
        idx.update(spark, corpus.filter(F.col("doc_id") % 3 == 1), epoch=1)
        m2 = idx.update(spark, corpus.filter(F.col("doc_id") % 3 == 2), epoch=2)
        replay = idx.update(spark, corpus.filter(F.col("doc_id") % 3 == 2), epoch=2)
        if replay != m2:
            raise AssertionError("replayed fold must be a fenced no-op")

    tmp = _session_fixture("dsir_index", sf, build)
    w = DSIRIndex(f"{tmp}/dsir").weights(spark, corpus)
    return (
        w.orderBy(F.col("lw_unat").desc(), F.col("doc_id").asc())
        .limit(200)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("lw_unat").desc(), F.col("doc_id").asc())
            ),
        )
    )


@_register(
    "streaming_dsir_select_drain",
    _dsir_oracle("doc_id < 166", "doc_id >= 166 AND doc_id < 333", epoch=1, topk=None)
    + " UNION ALL "
    + _dsir_oracle("doc_id < 333", "doc_id >= 333", epoch=2, topk=None),
)
def streaming_dsir_select_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING online data selection (r12) — the shape a live
    ingestion pipeline runs DSIR in: every micro-batch of raw
    documents is scored against the target model AND the raw model of
    everything ingested BEFORE it (epoch 0 only folds — an empty raw
    model scores nothing useful), then folds its own bucket counts in
    (O(batch) + O(dim) merge; the corpus never re-hashes). Weights
    legitimately drift as the raw model tracks the growing corpus —
    exactly what the chained oracle pins per epoch. Both side effects
    fenced on the index epoch watermark (count folds are not
    idempotent under foreachBatch redelivery)."""
    from .operators.curation import DSIRIndex

    def build(tmp: str) -> None:
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        docs = _t(spark, sf, "documents")
        raw = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text")
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(_NB_BOUNDS):
            stage = tempfile.mkdtemp(prefix="cdf_sdsir_part_")
            raw.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(stage, ignore_errors=True)

        idx = DSIRIndex(f"{tmp}/dsir")
        idx.build(spark, docs.filter(F.col("doc_id") % 97 == 0))

        def handle(batch_df, epoch_id: int) -> None:
            meta = idx._meta()
            if meta is not None and int(epoch_id) <= meta.get("last_epoch", -1):
                return  # fully-processed epoch redelivered
            if meta is not None and meta["version"] > 0:
                (
                    idx.weights(spark, batch_df)
                    .write.mode("overwrite")
                    .parquet(f"{tmp}/out/epoch={epoch_id}")
                )
            idx.update(spark, batch_df, epoch=int(epoch_id))

        q = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_dsir", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        F.col("epoch").cast("long").alias("epoch"),
        "doc_id",
        "n_feats",
        "lw_unat",
    )


@_register(
    "leakage_safe_split",
    """
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)]) AS s
      FROM documents
    ),
    ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
    p AS (
      SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, b.sz sb, count(*) inter
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1,2,3,4
    ),
    pairs AS (
      SELECT id_a, id_b FROM p WHERE inter::DOUBLE / (sa + sb - inter) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    clusters AS (
      SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster
      FROM walk GROUP BY id
    )
    SELECT doc_id, cluster,
           CASE WHEN CAST(('0x'||substr(md5(CAST(cluster AS VARCHAR)),1,15)) AS BIGINT) % 10 = 0
                THEN 'test' ELSE 'train' END AS split
    FROM clusters
    """,
)
def leakage_safe_split_q(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/test split (r12): near-dup clusters (the
    jaccard>=0.8 components the near_dup_clusters query proves) are
    assigned to a side ATOMICALLY — a test doc can never have a
    near-copy in train. Side = hash64(cluster) % 10 (md5-parity, so
    the split is engine- and partitioning-reproducible). The oracle
    replays clustering (recursive CTE) + the hash rule."""
    from .operators.dedup_approx import leakage_safe_split

    docs = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).select("id_a", "id_b")
    return leakage_safe_split(docs.select("doc_id"), pairs)


@_register(
    "ivf_hard_negative_mining",
    """
    WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
    assigned AS (
      SELECT id, lab, cluster FROM (
        SELECT c.vec_id AS id, c.label AS lab, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, label AS qlab, e AS qe FROM c WHERE vec_id < 20),
    probes AS (
      SELECT qid, qlab, cluster FROM (
        SELECT q.qid, q.qlab, cents.cid AS cluster,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= 8
    ),
    cand AS (
      SELECT p.qid, a.id, a.lab FROM probes p JOIN assigned a ON a.cluster = p.cluster
      WHERE a.id != p.qid AND a.lab != p.qlab
    ),
    scored AS (
      SELECT cand.qid AS query_id, cand.id AS neighbor_id, cand.lab AS neg_label,
             round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
      FROM cand JOIN c qc ON qc.vec_id = cand.qid JOIN c cc ON cc.vec_id = cand.id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neg_label, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, neg_label, sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ivf_hard_negative_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (r12): for each anchor vector, the 10
    most-similar corpus vectors with a DIFFERENT label — the
    DPR/SimCSE contrastive-training negatives (near in embedding
    space, semantically wrong). IVF routing keeps it a candidate-list
    scan; the label filter precedes ranking; deterministic and
    SQL-verified end to end like every ANN entry."""
    from .operators.similarity import ivf_hard_negatives

    emb = _t(spark, sf, "embeddings")
    return ivf_hard_negatives(
        emb, emb.filter("vec_id < 20"), k=10, nprobe=8, centroid_modulus=50
    )


_PHRASES = [("p1", "order fast"), ("p2", "order order"), ("p3", "big order scan")]

_PHRASE_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    pos AS (SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts)+1)) AS p FROM toks),
    qterms AS (
      SELECT * FROM (VALUES
        ('p1',0,'order'),('p1',1,'fast'),
        ('p2',0,'order'),('p2',1,'order'),
        ('p3',0,'big'),('p3',1,'order'),('p3',2,'scan')
      ) AS q(qid, i, tok)
    ),
    qn AS (SELECT qid, COUNT(*) AS n FROM qterms GROUP BY qid),
    occ AS (
      SELECT q.qid, pos.doc_id, q.i, pos.p - q.i AS adj
      FROM pos JOIN qterms q USING (tok)
    ),
    hits AS (
      SELECT o.qid, o.doc_id, o.adj
      FROM occ o JOIN qn USING (qid)
      GROUP BY o.qid, o.doc_id, o.adj, qn.n
      HAVING COUNT(DISTINCT o.i) = qn.n
    )
    SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM hits GROUP BY qid, doc_id
"""


def _phrase_df(spark: SparkSession):
    return spark.createDataFrame(_PHRASES, ["qid", "qtext"])


@_register("phrase_match_docs", _PHRASE_ORACLE)
def phrase_match_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact token-level phrase matching (r12): which documents
    contain each phrase VERBATIM and how many times — the
    contamination-forensics primitive gram-hash overlap can't answer.
    Adjusted-position discipline: a phrase occurrence at p requires
    term i at p+i, so all n terms share adj = pos − i; one groupBy
    counts distinct offsets per (doc, adj). Repeated-term phrases
    ('order order') exercise the distinct-offset rule."""
    from .operators.retrieval import phrase_match

    return phrase_match(_t(spark, sf, "documents"), _phrase_df(spark))


@_register("phrase_index_match", _PHRASE_ORACLE)
def phrase_index_match(spark: SparkSession, sf: str) -> DataFrame:
    """The same phrase answers from the PERSISTED positional inverted
    index (shares the three-fold bm25_idx fixture): postings carry
    sorted per-term position lists, so the probe is the bucket-pruned
    term scan BM25 pays plus the adjusted-position join — and the
    folded index must answer bit-identically to the one-shot oracle
    (positions are per-doc facts; folding cannot change them)."""
    from .operators.retrieval import InvertedIndex

    def build(tmp: str) -> None:
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        idx = InvertedIndex(f"{tmp}/bm25")
        idx.build(spark, docs.filter(F.col("doc_id") % 3 == 0))
        idx.add(spark, docs.filter(F.col("doc_id") % 3 == 1))
        idx.add(spark, docs.filter(F.col("doc_id") % 3 == 2))

    tmp = _session_fixture("bm25_idx", sf, build)
    return InvertedIndex(f"{tmp}/bm25").phrase_query(spark, _phrase_df(spark))


@_register(
    "curriculum_training_order",
    """
    WITH toks AS (
      SELECT doc_id AS _id, t.tok
      FROM documents, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts),
    lm AS (
      SELECT tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_total + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp_unat
      FROM counts, tot
    ),
    agg AS (
      SELECT _id, COUNT(*) AS n_tokens, SUM(lp_unat) AS s
      FROM toks JOIN lm USING (tok) GROUP BY _id
    ),
    scored AS (
      SELECT _id AS doc_id,
             round(-CAST(s AS DOUBLE)/(CAST(n_tokens AS DOUBLE)*1000000.0), 6) AS nll_nats
      FROM agg
    ),
    bucketed AS (
      SELECT d.doc_id,
             NTILE(3) OVER (PARTITION BY d.lang ORDER BY sc.nll_nats, d.doc_id) AS ppl_bucket
      FROM documents d JOIN scored sc ON d.doc_id = sc.doc_id
    )
    SELECT doc_id, ppl_bucket,
           CAST(row_number() OVER (
             ORDER BY ppl_bucket, md5('0:' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS BIGINT) AS position
    FROM bucketed
    """,
)
def curriculum_training_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum data ordering (r12): CCNet perplexity terciles as
    curriculum stages (bucket 1 = most fluent = first), deterministic
    md5 shuffle within each stage, and each doc's EXACT global
    position via the two-phase range-repartition discipline (no
    global window — the oracle's row_number is the semantic spec,
    not the plan). The unit a sharded training loader consumes."""
    from .operators.curation import lm_perplexity_scores
    from .operators.packing import curriculum_order

    docs = _t(spark, sf, "documents")
    scores = lm_perplexity_scores(docs).select("doc_id", "nll_nats")
    w = Window.partitionBy("lang").orderBy("nll_nats", "doc_id")
    bucketed = (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .select("doc_id", F.ntile(3).over(w).alias("ppl_bucket"))
    )
    return curriculum_order(bucketed, "ppl_bucket").select(
        "doc_id", "ppl_bucket", "position"
    )


# ---------------------------------------------------------------------------
# Iterative graph processing (r12 third wave): PageRank
# ---------------------------------------------------------------------------


def _pagerank_oracle(iters: int = 5, k: int = 50) -> str:
    """Unrolled power iteration — one CTE trio (dangling mass, edge
    contributions, new scores) per iteration, in the exact integer
    arithmetic `operators/graph.pagerank` uses, so an ITERATIVE
    algorithm value-matches the gate bit-for-bit."""
    body = """
    WITH j AS (
      SELECT o_custkey AS ck, l_suppkey AS sk, l_returnflag AS rf
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(ck AS VARCHAR) AS src,
                      's' || CAST(sk AS VARCHAR) AS dst FROM j
      UNION ALL
      SELECT DISTINCT 's' || CAST(sk AS VARCHAR),
                      'c' || CAST(ck AS VARCHAR) FROM j WHERE rf = 'R'
    ),
    nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS s FROM nodes)"""
    for i in range(iters):
        body += f""",
    d{i} AS MATERIALIZED (SELECT COALESCE(SUM(s), 0) AS dang FROM it{i}
             WHERE id NOT IN (SELECT id FROM outdeg)),
    c{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(t.s // o.deg) AS contrib
             FROM edges e JOIN it{i} t ON t.id = e.src
             JOIN outdeg o ON o.id = e.src
             GROUP BY e.dst),
    it{i + 1} AS MATERIALIZED (SELECT nodes.id,
             CAST(150000 + (85 * (COALESCE(c{i}.contrib, 0)
                  + (SELECT dang FROM d{i}) // (SELECT n FROM nn))) // 100
                  AS BIGINT) AS s
             FROM nodes LEFT JOIN c{i} ON c{i}.id = nodes.id)"""
    body += f""",
    ranked AS (SELECT id, s AS score_unat,
               row_number() OVER (ORDER BY s DESC, id ASC) AS rank FROM it{iters})
    SELECT id, score_unat, rank FROM ranked WHERE rank <= {k}
    """
    return body


@_register("pagerank_supplier_graph", _pagerank_oracle())
def pagerank_supplier_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Integer fixed-point PageRank (r12, `operators/graph.pagerank`)
    over the customer->supplier trade graph: a forward edge for every
    distinct (customer, supplier) lineitem relationship, a reverse
    edge only where the pair had a returned item (l_returnflag='R') —
    so suppliers without returns are DANGLING nodes and the
    redistribution path is load-bearing. Five iterations, damping 85%,
    micro-unit scores: every contribution is `score DIV outdeg`, every
    sum an exact integer, so the unrolled-CTE oracle matches an
    ITERATIVE algorithm value-for-value. The web-graph quality-prior
    stage of a CommonCrawl-style curation pipeline, expressed on the
    fixture's graph."""
    from .operators.graph import pagerank_topk

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    j = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_suppkey", "l_returnflag"
    )
    fwd = j.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    ).distinct()
    rev = (
        j.filter(F.col("l_returnflag") == "R")
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    return pagerank_topk(fwd.unionAll(rev), k=50, iterations=5)


# ---------------------------------------------------------------------------
# Hybrid retrieval (r12 third wave): BM25 + ANN reciprocal-rank fusion
# ---------------------------------------------------------------------------

_HYBRID_RRF_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n, COALESCE(SUM(len(ts)), 0) AS total FROM toks),
    flat AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks),
    tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM flat GROUP BY doc_id, dl, tok),
    qterms AS (
      SELECT * FROM (VALUES
        ('q1','hash'),('q1','join'),('q1','merge'),
        ('q2','window'),('q2','agg'),('q2','stream'),
        ('q3','fast'),('q3','table'),('q3','scan'),('q3','vector')
      ) AS q(qid, tok)
    ),
    dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf
      WHERE tok IN (SELECT tok FROM qterms) GROUP BY tok
    ),
    bscored AS (
      SELECT q.qid, tf.doc_id,
             CAST(round(
               ln(1.0 + (n - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total AS DOUBLE) / n)))
               * 1000000.0
             ) AS BIGINT) AS s
      FROM tf JOIN qterms q USING (tok) JOIN dfreq USING (tok), stats
    ),
    bagg AS (SELECT qid, doc_id, CAST(SUM(s) AS BIGINT) AS score_unat FROM bscored GROUP BY qid, doc_id),
    branked AS (
      SELECT qid, doc_id, score_unat,
             row_number() OVER (PARTITION BY qid ORDER BY score_unat DESC, doc_id ASC) AS rk
      FROM bagg
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
    assigned AS (
      SELECT id, cluster FROM (
        SELECT c.vec_id AS id, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 3),
    probes AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, cents.cid AS cluster,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= 8
    ),
    cand AS (
      SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
      WHERE a.id != p.qid
    ),
    vscored AS (
      SELECT cand.qid AS query_id, cand.id AS neighbor_id,
             round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
      FROM cand JOIN c qc ON qc.vec_id = cand.qid JOIN c cc ON cc.vec_id = cand.id
    ),
    vranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM vscored
    ),
    t AS (SELECT qid, doc_id AS id, rk FROM branked WHERE rk <= 20),
    v AS (SELECT 'q' || CAST(query_id + 1 AS VARCHAR) AS qid, neighbor_id AS id,
                 rank AS rk FROM vranked WHERE rank <= 20),
    fused AS (
      SELECT COALESCE(t.qid, v.qid) AS qid, COALESCE(t.id, v.id) AS doc_id,
             COALESCE(1000000000 // (60 + t.rk), 0)
               + COALESCE(1000000000 // (60 + v.rk), 0) AS rrf_unat,
             COALESCE(t.rk, 0) AS bm25_rk, COALESCE(v.rk, 0) AS ann_rk
      FROM t FULL JOIN v ON t.qid = v.qid AND t.id = v.id
    ),
    final AS (
      SELECT qid, doc_id, rrf_unat, bm25_rk, ann_rk,
             row_number() OVER (PARTITION BY qid ORDER BY rrf_unat DESC, doc_id ASC) AS rank
      FROM fused
    )
    SELECT qid, doc_id, rrf_unat, bm25_rk, ann_rk, rank FROM final WHERE rank <= 10
"""


@_register("hybrid_rrf_retrieval", _HYBRID_RRF_ORACLE)
def hybrid_rrf_retrieval(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid search (r12, `operators/retrieval.rrf_fuse`): the BM25
    text leg (top-20 per query) and the IVF ANN dense leg (top-20,
    deploy path — deterministic sampled centroids, nprobe=8) fused by
    reciprocal-rank fusion in integer nano-units
    (1e9 DIV (60 + rank), exact cross-engine sums). Query pairing:
    text queries q1..q3 <-> query vectors vec_id 0..2 (qid = 'q'||
    (vec_id+1)); candidate ids share the doc_id/vec_id space. The
    fusion inputs are |queries| x 20 rows — broadcast-scale by
    construction — so the 100 TB cost profile is exactly the two
    legs'. A leg that did not rank a doc reports rank 0 (absent)."""
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import ivf_ann_topk

    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    text_leg = bm25_topk(docs, _bm25_query_df(spark), k=20).select(
        "qid", F.col("doc_id").alias("id"), "rk"
    )
    vec = ivf_ann_topk(emb, emb.filter("vec_id < 3"), k=20, nprobe=8, centroid_modulus=50)
    vec_leg = vec.select(
        F.concat(F.lit("q"), F.col("query_id") + 1).alias("qid"),
        F.col("neighbor_id").alias("id"),
        F.col("rank").alias("rk"),
    )
    return rrf_fuse({"bm25": text_leg, "ann": vec_leg}, k=10)


# ---------------------------------------------------------------------------
# Pseudo-relevance-feedback expansion (r12 third wave)
# ---------------------------------------------------------------------------

_PRF_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n, COALESCE(SUM(len(ts)), 0) AS total FROM toks),
    flat AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks),
    tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM flat GROUP BY doc_id, dl, tok),
    qterms AS (
      SELECT * FROM (VALUES
        ('q1','hash'),('q1','join'),('q1','merge'),
        ('q2','window'),('q2','agg'),('q2','stream'),
        ('q3','fast'),('q3','table'),('q3','scan'),('q3','vector')
      ) AS q(qid, tok)
    ),
    dfreq1 AS (
      SELECT tok, COUNT(*) AS df FROM tf
      WHERE tok IN (SELECT tok FROM qterms) GROUP BY tok
    ),
    scored1 AS (
      SELECT q.qid, tf.doc_id,
             CAST(round(
               ln(1.0 + (n - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total AS DOUBLE) / n)))
               * 1000000.0
             ) AS BIGINT) AS s
      FROM tf JOIN qterms q USING (tok) JOIN dfreq1 USING (tok), stats
    ),
    agg1 AS (SELECT qid, doc_id, CAST(SUM(s) AS BIGINT) AS score_unat FROM scored1 GROUP BY qid, doc_id),
    fb AS (
      SELECT qid, doc_id FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score_unat DESC, doc_id ASC) AS rk
        FROM agg1
      ) WHERE rk <= 5
    ),
    cand AS (
      SELECT fb.qid, tf.tok, SUM(tf.tf) AS w
      FROM tf JOIN fb ON tf.doc_id = fb.doc_id
      WHERE NOT EXISTS (
        SELECT 1 FROM qterms q2 WHERE q2.qid = fb.qid AND q2.tok = tf.tok
      )
      GROUP BY fb.qid, tf.tok
    ),
    expansion AS (
      SELECT qid, tok FROM (
        SELECT qid, tok,
               row_number() OVER (PARTITION BY qid ORDER BY w DESC, tok ASC) AS r
        FROM cand
      ) WHERE r <= 3
    ),
    qterms2 AS (SELECT qid, tok FROM qterms UNION SELECT qid, tok FROM expansion),
    dfreq2 AS (
      SELECT tok, COUNT(*) AS df FROM tf
      WHERE tok IN (SELECT tok FROM qterms2) GROUP BY tok
    ),
    scored2 AS (
      SELECT q.qid, tf.doc_id,
             CAST(round(
               ln(1.0 + (n - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total AS DOUBLE) / n)))
               * 1000000.0
             ) AS BIGINT) AS s
      FROM tf JOIN qterms2 q USING (tok) JOIN dfreq2 USING (tok), stats
    ),
    agg2 AS (SELECT qid, doc_id, CAST(SUM(s) AS BIGINT) AS score_unat FROM scored2 GROUP BY qid, doc_id),
    ranked2 AS (
      SELECT qid, doc_id, score_unat,
             row_number() OVER (PARTITION BY qid ORDER BY score_unat DESC, doc_id ASC) AS rk
      FROM agg2
    )
    SELECT qid, doc_id, score_unat, rk FROM ranked2 WHERE rk <= 10
"""


@_register("bm25_prf_expanded_topk", _PRF_ORACLE)
def bm25_prf_expanded_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Two-pass pseudo-relevance-feedback retrieval (r12,
    `operators/retrieval.bm25_prf_expand`): BM25 top-5 feedback docs
    per query, the 3 strongest feedback terms (exact integer tf sums,
    token tie-break, original terms excluded) join the query, and the
    expanded term set re-ranks the corpus. The corpus tf table is
    built once and shared by both passes and the term mining; the
    oracle replays feedback selection, expansion mining, and the
    second scoring pass end to end."""
    from .operators.retrieval import bm25_prf_expand

    return bm25_prf_expand(
        _t(spark, sf, "documents"), _bm25_query_df(spark), fb_k=5, expand_m=3, k=10
    )


# ---------------------------------------------------------------------------
# Funnel analysis (r12 third wave)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
    WITH a AS (
      SELECT user_id AS u, MIN(ts) AS c1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (SELECT u, c1 AS c, c1 + INTERVAL 7 DAY AS hz FROM a),
    s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS c, s1.hz
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND e.ts > s1.c AND e.ts <= s1.hz
      GROUP BY e.user_id, s1.hz
    ),
    s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS c, s2.hz
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND e.ts > s2.c AND e.ts <= s2.hz
      GROUP BY e.user_id, s2.hz
    )
    SELECT * FROM (
      SELECT 1 AS step_idx, 'view' AS step, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
      UNION ALL
      SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    )
"""


@_register("funnel_view_click_purchase", _FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-sequence funnel (r12, `operators/temporal.funnel_counts`,
    ClickHouse windowFunnel semantics): users who viewed, then clicked
    strictly after the first view, then purchased strictly after that
    click — all within 7 days of the anchoring view. One user-keyed
    min-agg + join per step, every shuffle on the same key; exact
    integer counts replayed step-for-step by the oracle."""
    from .operators.temporal import funnel_counts

    return funnel_counts(
        _t(spark, sf, "events"), ["view", "click", "purchase"], within="7 days"
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance (r12 third wave)
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
    WITH final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey > 500 AND o_orderkey <= 700
                  THEN -1.0 ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 3500
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS sum_totalprice
    FROM final GROUP BY o_orderpriority
"""


@_register("delta_ivm_rollup", _IVM_ORACLE)
def delta_ivm_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance (r12,
    `operators/matview.MaterializedAggregate`): a persisted
    (priority -> COUNT, SUM(totalprice)) view over a CDF-enabled Delta
    table, initialized from the v0 snapshot and then REFRESHED from
    the change feed through a DV delete (retractions) and a DV merge
    (update pre/post-image pairs + fresh inserts) — two incremental
    folds plus a proven no-op refresh, never re-scanning the table.
    DECIMAL(38,6) sums make the maintained state bit-identical to the
    oracle's from-scratch aggregate of the final snapshot."""
    from .operators.matview import MaterializedAggregate
    from .sources.delta import DeltaFixtureWriter

    def build(tmp: str) -> None:
        import shutil
        import tempfile
        from pathlib import Path as _P

        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)
        w.append(o.filter(F.col("o_orderkey") <= 3000), timestamp_ms=1000)
        mv = MaterializedAggregate(f"{tmp}/mv")
        mv.build(spark, f"{tmp}/t", keys=["o_orderpriority"], sums=["o_totalprice"])
        w.delete_where(spark, "o_orderkey <= 500", timestamp_ms=2000)
        mv.refresh(spark)  # fold the retractions alone
        batch = (
            o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 700))
            .withColumn("o_totalprice", F.lit(-1.0))
            .unionByName(
                o.filter((F.col("o_orderkey") > 3000) & (F.col("o_orderkey") <= 3500))
            )
        )
        seg = tempfile.mkdtemp()
        batch.coalesce(1).write.mode("overwrite").parquet(seg)
        segs = sorted(str(p) for p in _P(seg).glob("*.parquet"))
        w.upsert_files_dv(spark, segs, ["o_orderkey"], timestamp_ms=3000)
        shutil.rmtree(seg, ignore_errors=True)
        m1 = mv.refresh(spark)  # fold updates + inserts
        if mv.refresh(spark) != m1:
            raise AssertionError("refresh with no new commits must be a no-op")

    tmp = _session_fixture("delta_ivm", sf, build)
    mv = MaterializedAggregate(f"{tmp}/mv")
    return mv.read(spark).select(
        "o_orderpriority",
        "cnt",
        F.col("sum_o_totalprice").cast("double").alias("sum_totalprice"),
    )


def _ppr_oracle(iters: int = 5, k: int = 50) -> str:
    """Personalized-PageRank replay: same unrolled trio per iteration
    as `_pagerank_oracle`, with initial mass / teleport / dangling
    redistribution all gated by the seed indicator."""
    body = """
    WITH j AS (
      SELECT o_custkey AS ck, l_suppkey AS sk, l_returnflag AS rf
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(ck AS VARCHAR) AS src,
                      's' || CAST(sk AS VARCHAR) AS dst FROM j
      UNION ALL
      SELECT DISTINCT 's' || CAST(sk AS VARCHAR),
                      'c' || CAST(ck AS VARCHAR) FROM j WHERE rf = 'R'
    ),
    nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    seeds AS MATERIALIZED (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS id
              FROM customer WHERE c_nationkey = 1),
    snodes AS MATERIALIZED (SELECT n.id, CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS sd
               FROM nodes n LEFT JOIN seeds s ON n.id = s.id),
    ns AS (SELECT CAST(SUM(sd) AS BIGINT) AS n_t FROM snodes),
    outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
    it0 AS MATERIALIZED (SELECT id, CAST(1000000 * sd AS BIGINT) AS s FROM snodes)"""
    for i in range(iters):
        body += f""",
    d{i} AS MATERIALIZED (SELECT COALESCE(SUM(s), 0) AS dang FROM it{i}
             WHERE id NOT IN (SELECT id FROM outdeg)),
    c{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(t.s // o.deg) AS contrib
             FROM edges e JOIN it{i} t ON t.id = e.src
             JOIN outdeg o ON o.id = e.src
             GROUP BY e.dst),
    it{i + 1} AS MATERIALIZED (SELECT sn.id,
             CAST(sn.sd * 150000 + (85 * (COALESCE(c{i}.contrib, 0)
                  + sn.sd * ((SELECT dang FROM d{i}) // (SELECT n_t FROM ns)))) // 100
                  AS BIGINT) AS s
             FROM snodes sn LEFT JOIN c{i} ON c{i}.id = sn.id)"""
    body += f""",
    ranked AS (SELECT id, s AS score_unat,
               row_number() OVER (ORDER BY s DESC, id ASC) AS rank FROM it{iters})
    SELECT id, score_unat, rank FROM ranked WHERE rank <= {k}
    """
    return body


@_register("personalized_pagerank_seeds", _ppr_oracle())
def personalized_pagerank_seeds(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank (r12, `operators/graph.pagerank` with
    `seeds`): the same trade graph as `pagerank_supplier_graph`, but
    the walk restarts ONLY at nation-1 customers — initial mass,
    teleport, and dangling redistribution all land on the seed set,
    so scores rank the graph by proximity to those customers (the
    seed-set corpus-expansion primitive: 'given these trusted
    sources, which nodes are close?'). Same integer recurrence,
    seed-gated; oracle unrolls all five iterations."""
    from .operators.graph import pagerank_topk

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    cust = _t(spark, sf, "customer")
    j = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_suppkey", "l_returnflag"
    )
    fwd = j.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    ).distinct()
    rev = (
        j.filter(F.col("l_returnflag") == "R")
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    seeds = cust.filter(F.col("c_nationkey") == 1).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("id")
    )
    return pagerank_topk(fwd.unionAll(rev), k=50, iterations=5, seeds=seeds)


# ---------------------------------------------------------------------------
# MMR diversified reranking (r12 third wave)
# ---------------------------------------------------------------------------


def _mmr_oracle(k: int = 4, nc: int = 8) -> str:
    """Unrolled greedy MMR: one (penalty, selection) CTE pair per
    step over the IVF candidate CTEs — the same integer score
    `70*rel_u - 30*max(sim_u to selected)` the operator maximizes."""
    body = """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
    assigned AS (
      SELECT id, cluster FROM (
        SELECT c.vec_id AS id, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 3),
    probes AS (
      SELECT qid, cluster FROM (
        SELECT q.qid, cents.cid AS cluster,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(q.qe, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= 8
    ),
    candraw AS (
      SELECT p.qid, a.id FROM probes p JOIN assigned a ON a.cluster = p.cluster
      WHERE a.id != p.qid
    ),
    vscored AS (
      SELECT candraw.qid AS query_id, candraw.id AS neighbor_id,
             round(list_cosine_similarity(qc.e, cc.e), 4) AS sim
      FROM candraw JOIN c qc ON qc.vec_id = candraw.qid JOIN c cc ON cc.vec_id = candraw.id
    ),
    vranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM vscored
    ),"""
    body += f"""
    cand AS (
      SELECT 'q' || CAST(query_id + 1 AS VARCHAR) AS qid, neighbor_id AS id,
             CAST(round(sim * 1000000.0) AS BIGINT) AS rel_u
      FROM vranked WHERE rank <= {nc}
    ),
    pair AS (
      SELECT c1.qid, c1.id AS a, c2.id AS b,
             CAST(round(round(list_cosine_similarity(e1.e, e2.e), 4) * 1000000.0) AS BIGINT) AS sim_u
      FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.id != c2.id
      JOIN c e1 ON e1.vec_id = c1.id JOIN c e2 ON e2.vec_id = c2.id
    ),
    sel1 AS (
      SELECT qid, id, 1 AS mmr_rank, CAST(70 * rel_u AS BIGINT) AS sel_score_unat FROM (
        SELECT qid, id, rel_u,
               row_number() OVER (PARTITION BY qid ORDER BY 70 * rel_u DESC, id ASC) AS rn
        FROM cand) WHERE rn = 1
    ),
    selset1 AS (SELECT qid, id FROM sel1)"""
    for i in range(2, k + 1):
        body += f""",
    pen{i} AS (
      SELECT pr.qid, pr.a AS id, MAX(pr.sim_u) AS pen
      FROM pair pr JOIN selset{i - 1} s ON pr.qid = s.qid AND pr.b = s.id
      GROUP BY pr.qid, pr.a
    ),
    sel{i} AS (
      SELECT qid, id, {i} AS mmr_rank, CAST(score AS BIGINT) AS sel_score_unat FROM (
        SELECT r.qid, r.id,
               70 * r.rel_u - 30 * COALESCE(p.pen, 0) AS score,
               row_number() OVER (PARTITION BY r.qid
                 ORDER BY 70 * r.rel_u - 30 * COALESCE(p.pen, 0) DESC, r.id ASC) AS rn
        FROM cand r LEFT JOIN pen{i} p ON p.qid = r.qid AND p.id = r.id
        WHERE NOT EXISTS (
          SELECT 1 FROM selset{i - 1} s2 WHERE s2.qid = r.qid AND s2.id = r.id
        )
      ) WHERE rn = 1
    ),
    selset{i} AS (SELECT qid, id FROM selset{i - 1} UNION ALL SELECT qid, id FROM sel{i})"""
    union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, k + 1))
    body += f"""
    {union}
    """
    return body


@_register("mmr_diversified_rerank", _mmr_oracle())
def mmr_diversified_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversified reranking (r12,
    `operators/retrieval.mmr_rerank`): the IVF ANN deploy leg cuts 8
    candidates per query vector; MMR then greedily selects 4, each
    step maximizing 70%*relevance - 30%*max-similarity-to-selected
    in integer micro-units (candidate-id tie-breaks). The de-clumping
    stage after dense retrieval — near-identical neighbors cannot
    crowd the final set. Candidates and their pairwise similarities
    are query-bounded, so every greedy step is broadcast-scale; the
    oracle unrolls all four selections."""
    from .operators.retrieval import mmr_rerank
    from .operators.similarity import cosine, ivf_ann_topk

    emb = _t(spark, sf, "embeddings")
    raw = ivf_ann_topk(emb, emb.filter("vec_id < 3"), k=8, nprobe=8, centroid_modulus=50)
    cand = raw.select(
        F.concat(F.lit("q"), F.col("query_id") + 1).alias("qid"),
        F.col("neighbor_id").alias("id"),
        F.round(F.col("sim") * F.lit(1000000.0)).cast("long").alias("rel_u"),
    )
    ce = emb.select("vec_id", "embedding")
    pa = cand.select("qid", F.col("id").alias("a")).join(
        ce.select(F.col("vec_id").alias("a"), F.col("embedding").alias("_va")), on="a"
    )
    pb = cand.select("qid", F.col("id").alias("b")).join(
        ce.select(F.col("vec_id").alias("b"), F.col("embedding").alias("_vb")), on="b"
    )
    pairs = (
        pa.join(pb, on="qid")
        .filter(F.col("a") != F.col("b"))
        .select(
            "qid",
            "a",
            "b",
            F.round(F.round(cosine(F.col("_va"), F.col("_vb")), 4) * F.lit(1000000.0))
            .cast("long")
            .alias("sim_u"),
        )
    )
    return mmr_rerank(cand, pairs, k=4, lambda_pct=70)


def _cc_oracle(unroll: int = 30) -> str:
    """Min-label propagation unrolled past the fixture graph's
    diameter (21 synchronous rounds at sf0.01; extra rounds are
    no-ops at fixpoint, so unroll=30 is value-identical to the
    operator's run-to-convergence)."""
    body = """
    WITH j AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_quantity >= 50 AND l_returnflag = 'R'
    ),
    und AS MATERIALIZED (SELECT a, b FROM j UNION ALL SELECT b, a FROM j),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM und),
    it0 AS MATERIALIZED (SELECT id, id AS l FROM nodes)"""
    for i in range(unroll):
        body += f""",
    c{i} AS MATERIALIZED (SELECT e.b AS id, MIN(t.l) AS m FROM und e
             JOIN it{i} t ON t.id = e.a GROUP BY e.b),
    it{i + 1} AS MATERIALIZED (SELECT t.id, LEAST(t.l, COALESCE(c{i}.m, t.l)) AS l
             FROM it{i} t LEFT JOIN c{i} ON c{i}.id = t.id)"""
    body += f"""
    SELECT id, l AS component FROM it{unroll}
    """
    return body


@_register("connected_components_trade", _cc_oracle())
def connected_components_trade(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components (r12, `operators/graph.
    connected_components`): min-label propagation to fixpoint over
    the sparse high-value returned-items trade graph (42 components
    at sf0.01, diameter ~21 — a real multi-component instance, not a
    giant-component triviality). The operator runs to CONVERGENCE
    (per-round 1-row change count, the suite's bounded driver-side
    contract); the oracle unrolls 30 synchronous rounds. The round
    budget is PINNED to the oracle's unroll (max_iterations=30): a
    larger scale factor whose diameter overflowed the unroll raises
    loudly in the operator instead of silently value-diverging from
    the oracle. The same algorithm the near-dup clusterer uses on its
    candidate graph; long-chain graphs past any sane round budget use
    `connected_components_star` (O(log n) rounds)."""
    from .operators.graph import connected_components

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    j = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .filter((F.col("l_quantity") >= 50) & (F.col("l_returnflag") == "R"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return connected_components(j, max_iterations=30)


def _star_rounds_sql(unroll: int) -> str:
    """The large-star/small-star round CTE chain, shared by every
    star-contraction oracle: expects an `e0(a, b)` CTE (distinct,
    self-loop-free) in scope; leaves `e{unroll}` as the star forest."""
    body = ""
    for i in range(unroll):
        body += f""",
    ue{i} AS MATERIALIZED (SELECT a, b FROM e{i} UNION SELECT b, a FROM e{i}),
    mn{i} AS MATERIALIZED (SELECT a, MIN(b) AS mb FROM ue{i} GROUP BY a),
    bg{i} AS MATERIALIZED (
      SELECT DISTINCT u.b AS a, LEAST(m.mb, u.a) AS b
      FROM ue{i} u JOIN mn{i} m ON m.a = u.a WHERE u.b > u.a
    ),
    dl{i} AS MATERIALIZED (
      SELECT GREATEST(a, b) AS u, LEAST(a, b) AS v FROM bg{i} WHERE a <> b
    ),
    m2{i} AS MATERIALIZED (SELECT u, MIN(v) AS m FROM dl{i} GROUP BY u),
    e{i + 1} AS MATERIALIZED (
      SELECT DISTINCT a, b FROM (
        SELECT d.v AS a, m2.m AS b FROM dl{i} d JOIN m2{i} m2 ON m2.u = d.u
        UNION ALL
        SELECT u, m FROM m2{i}
      ) WHERE a <> b
    )"""
    return body


def _cc_star_oracle(unroll: int = 16) -> str:
    """Large-star/small-star replay: each round is the exact two-phase
    contraction (undirected view -> large-star re-pointing bigger
    neighbors at min(N(u) ∪ {u}) -> small-star re-pointing smaller
    neighbors and u itself at min(Γ(u) ∪ {u})). The unroll is pinned
    to the operator's max_rounds — a fixture that needed more rounds
    raises in the operator instead of silently diverging here; extra
    rounds at the star-forest fixpoint are provably no-ops."""
    body = """
    WITH trade AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_quantity >= 50 AND l_returnflag = 'R'
    ),
    ks AS MATERIALIZED (
      SELECT o_orderkey AS k, row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey <= 6000)
    ),
    chain AS MATERIALIZED (
      SELECT 'o' || CAST(x.k AS VARCHAR) AS a, 'o' || CAST(y.k AS VARCHAR) AS b
      FROM ks x JOIN ks y ON y.rn = x.rn + 1
    ),
    raw AS MATERIALIZED (SELECT a, b FROM trade UNION ALL SELECT a, b FROM chain),
    nodes AS MATERIALIZED (SELECT a AS id FROM raw UNION SELECT b FROM raw),
    e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM raw WHERE a <> b)"""
    body += _star_rounds_sql(unroll)
    body += f"""
    SELECT n.id, COALESCE(s.b, n.id) AS component
    FROM nodes n LEFT JOIN e{unroll} s ON s.a = n.id
    """
    return body


@_register("connected_components_star_chain", _cc_star_oracle())
def connected_components_star_chain(spark: SparkSession, sf: str) -> DataFrame:
    """Web-scale connected components (r13,
    `operators/graph.connected_components_star` — Kiveris et al. 2014
    large-star/small-star contraction): the fixture welds the
    multi-component trade graph to a ~1,500-link CHAIN over the first
    orderkeys — diameter ~1,500, fifty times past the min-label
    sibling's 30-round budget — and the contraction converges in 13
    rounds (O(log^2 n), measured 12 on a pure 1,200-chain). The round
    budget is pinned to the oracle's 16-round unroll: a deeper fixture
    raises loudly in the operator instead of silently diverging from
    the oracle. Every step is MIN over node-id strings, so the SQL
    replay is exact; extra unrolled rounds are no-ops at the
    star-forest fixpoint."""
    from .operators.graph import connected_components_star

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    trade = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .filter((F.col("l_quantity") >= 50) & (F.col("l_returnflag") == "R"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    from pyspark.sql import Window

    ks = (
        orders.filter(F.col("o_orderkey") <= 6000)
        .select("o_orderkey")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("o_orderkey")))
    )
    k2 = ks.select(F.col("o_orderkey").alias("k2"), (F.col("rn") - 1).alias("rn"))
    chain = ks.join(k2, on="rn").select(
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("src"),
        F.concat(F.lit("o"), F.col("k2")).alias("dst"),
    )
    return connected_components_star(trade.unionByName(chain), max_rounds=16)


@_register(
    "iceberg_ivm_rollup",
    """
    WITH final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey > 500 AND o_orderkey <= 700 THEN -1.0
                  WHEN o_orderkey > 700 AND o_orderkey <= 900 THEN -2.0
                  ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey <= 3500
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS sum_totalprice
    FROM final GROUP BY o_orderpriority
    """,
)
def iceberg_ivm_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance over ICEBERG (r12,
    `operators/matview.MaterializedAggregate` with
    source_format='iceberg'): the same persisted aggregate, folded
    from `changelog_scan` — two equality-delete upsert commits (each
    yielding delete preimages for matched keys + inserts at the same
    sequence number) refresh the view without re-scanning the table;
    a third refresh is a proven no-op. Snapshot ids are the cursor
    domain (non-monotonic — the ancestry-walking changelog is what
    makes them usable as one). Delete/insert pairs fold under the
    same signed-delta algebra as Delta's pre/post-images, so both
    formats share one maintenance kernel."""
    from .operators.matview import MaterializedAggregate
    from .sources.iceberg import IcebergFixtureWriter

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        w = IcebergFixtureWriter(f"{tmp}/t", seed=41)
        w.append(o.filter(F.col("o_orderkey") <= 3000), timestamp_ms=1000, snapshot_id=11)
        mv = MaterializedAggregate(f"{tmp}/mv")
        mv.build(
            spark, f"{tmp}/t", keys=["o_orderpriority"], sums=["o_totalprice"],
            source_format="iceberg",
        )
        b1 = (
            o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 700))
            .withColumn("o_totalprice", F.lit(-1.0))
            .unionByName(
                o.filter((F.col("o_orderkey") > 3000) & (F.col("o_orderkey") <= 3500))
            )
        )
        w.upsert(b1, ["o_orderkey"], timestamp_ms=2000, snapshot_id=22)
        mv.refresh(spark)
        b2 = (
            o.filter((F.col("o_orderkey") > 700) & (F.col("o_orderkey") <= 900))
            .withColumn("o_totalprice", F.lit(-2.0))
        )
        w.upsert(b2, ["o_orderkey"], timestamp_ms=3000, snapshot_id=33)
        m1 = mv.refresh(spark)
        if mv.refresh(spark) != m1:
            raise AssertionError("refresh with no new snapshots must be a no-op")

    tmp = _session_fixture("iceberg_ivm", sf, build)
    mv = MaterializedAggregate(f"{tmp}/mv")
    return mv.read(spark).select(
        "o_orderpriority",
        "cnt",
        F.col("sum_o_totalprice").cast("double").alias("sum_totalprice"),
    )


@_register(
    "delta_ivm_minmax",
    """
    WITH final AS (
      SELECT o_orderpriority, o_totalprice AS p FROM orders
      WHERE o_orderkey <= 3500
        AND o_totalprice <= 350000
        AND (o_orderkey > 3000 OR o_totalprice >= 30000)
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS sum_totalprice,
           CAST(MIN(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS min_totalprice,
           CAST(MAX(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS max_totalprice
    FROM final GROUP BY o_orderpriority
    """,
)
def delta_ivm_minmax(spark: SparkSession, sf: str) -> DataFrame:
    """MIN/MAX incremental view maintenance (r13,
    `operators/matview.MaterializedAggregate` with mins/maxs): the
    persisted per-priority view also maintains MIN and MAX of
    o_totalprice through an auxiliary bounded candidate heap
    (extreme_k=8 nearest-to-extreme values + a discard bound). The
    first refresh folds a multi-commit window — a delete that evicts
    EVERY group's current minimum (15-47 smallest rows per group, well
    past the heap, so the drain fence fires and heals each group with
    a partial recompute confined to the fenced keys) plus an insert
    batch folded through the heap; the second refresh deletes every
    group's top ~180 values to drain the MAX heaps the same way. A
    final no-op refresh proves the cursor fence. The oracle is a
    from-scratch COUNT/SUM/MIN/MAX of the temporally-replayed final
    snapshot — maintained extremes must be exact, never approximate."""
    from .operators.matview import MaterializedAggregate
    from .sources.delta import DeltaFixtureWriter

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)
        w.append(o.filter(F.col("o_orderkey") <= 3000), timestamp_ms=1000)
        mv = MaterializedAggregate(f"{tmp}/mv")
        mv.build(
            spark, f"{tmp}/t", keys=["o_orderpriority"], sums=["o_totalprice"],
            mins=["o_totalprice"], maxs=["o_totalprice"], extreme_k=8,
        )
        w.delete_where(spark, "o_totalprice < 30000", timestamp_ms=2000)
        w.append(
            o.filter((F.col("o_orderkey") > 3000) & (F.col("o_orderkey") <= 3500)),
            timestamp_ms=3000,
        )
        mv.refresh(spark)  # one window, two commits: drain-fence + inserts
        w.delete_where(spark, "o_totalprice > 350000", timestamp_ms=4000)
        m1 = mv.refresh(spark)  # max-side heap drain
        if mv.refresh(spark) != m1:
            raise AssertionError("refresh with no new commits must be a no-op")

    tmp = _session_fixture("delta_ivm_minmax", sf, build)
    mv = MaterializedAggregate(f"{tmp}/mv")
    return mv.read(spark).select(
        "o_orderpriority",
        "cnt",
        F.col("sum_o_totalprice").cast("double").alias("sum_totalprice"),
        F.col("min_o_totalprice").cast("double").alias("min_totalprice"),
        F.col("max_o_totalprice").cast("double").alias("max_totalprice"),
    )


@_register(
    "hudi_ivm_rollup",
    """
    WITH final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey > 500 AND o_orderkey <= 700 THEN -1.0
                  ELSE o_totalprice END AS p
      FROM orders
      WHERE o_orderkey <= 3500 AND NOT (o_orderkey > 700 AND o_orderkey <= 900)
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS sum_totalprice
    FROM final GROUP BY o_orderpriority
    """,
)
def hudi_ivm_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance over HUDI merge-on-read (r13,
    `operators/matview._HudiMorChanges`): Hudi's log-block change
    stream carries no pre-images (delete tombstones are key-only), so
    the refresh derives them as a two-snapshot diff confined to
    touched keys — (-1 x as-of-cursor row) + (+1 x as-of-now row) per
    touched key, intermediate upserts cancelling algebraically. One
    refresh folds an upsert (updates + fresh inserts) and a key-delete
    in a single window; a compaction-only window then advances the
    cursor with a zero logical delta; a final refresh is a proven
    no-op. Compaction-gated: a cleaned prior slice refuses loudly
    (HudiError) rather than folding a wrong pre-image."""
    from .operators.matview import MaterializedAggregate
    from .sources.hudi_mor import HudiMorFixtureWriter

    def build(tmp: str) -> None:
        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        w = HudiMorFixtureWriter(f"{tmp}/t", record_key="o_orderkey", n_buckets=4)
        w.insert(o.filter(F.col("o_orderkey") <= 3000))
        mv = MaterializedAggregate(f"{tmp}/mv")
        mv.build(
            spark, f"{tmp}/t", keys=["o_orderpriority"], sums=["o_totalprice"],
            source_format="hudi",
        )
        batch = (
            o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 700))
            .withColumn("o_totalprice", F.lit(-1.0))
            .unionByName(
                o.filter((F.col("o_orderkey") > 3000) & (F.col("o_orderkey") <= 3500))
            )
        )
        w.upsert(batch)
        w.delete(
            o.filter((F.col("o_orderkey") > 700) & (F.col("o_orderkey") <= 900)).select(
                "o_orderkey"
            )
        )
        mv.refresh(spark)  # one window: updates + inserts + key deletes
        if w.compact(spark) is None:
            raise AssertionError("compaction expected to produce a commit")
        m1 = mv.refresh(spark)  # compaction-only window: zero logical delta
        if mv.refresh(spark) != m1:
            raise AssertionError("refresh with no new instants must be a no-op")

    tmp = _session_fixture("hudi_ivm", sf, build)
    mv = MaterializedAggregate(f"{tmp}/mv")
    return mv.read(spark).select(
        "o_orderpriority",
        "cnt",
        F.col("sum_o_totalprice").cast("double").alias("sum_totalprice"),
    )


_IVM_DRAIN_ORACLE = """
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS epoch, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_totalprice
      FROM orders WHERE o_orderkey <= 1000 GROUP BY o_orderpriority
      UNION ALL
      SELECT 1, o_orderpriority, CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM orders WHERE o_orderkey <= 2000 GROUP BY o_orderpriority
      UNION ALL
      SELECT 2, o_orderpriority, CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM orders WHERE o_orderkey <= 3000 GROUP BY o_orderpriority
    )
"""


@_register("streaming_ivm_refresh_drain", _IVM_DRAIN_ORACLE)
def streaming_ivm_refresh_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING view maintenance — the continuous-dashboard shape: a
    real readStream drain where every micro-batch lands in the
    CDF-enabled Delta source table and the materialized aggregate
    REFRESHES from the change feed (epoch 0 builds), with the
    per-epoch view state captured — three epochs of cumulative
    rollups, never a table re-scan after epoch 0.

    foreachBatch is AT-LEAST-ONCE, and an APPEND is not idempotent —
    the epoch->commit-version fence (skip when the table already has
    this epoch's commit, the txn-appId discipline real Delta writers
    use) makes the redelivered epoch a no-op; the view's own cursor
    fence then keeps refresh exactly-once on top. The oracle replays
    every epoch's cumulative aggregate — a double append or a missed
    refresh diverges that epoch's counts and hash-mismatches."""
    from .operators.matview import MaterializedAggregate
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    bounds = [(-1, 1000), (1000, 2000), (2000, 3000)]  # keys start at 0

    def build(tmp: str) -> None:
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(bounds):
            stage = tempfile.mkdtemp(prefix="cdf_ivm_part_")
            o.filter(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(stage, ignore_errors=True)

        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)
        mv = MaterializedAggregate(f"{tmp}/mv")

        def handle(batch_df, epoch_id: int) -> None:
            # Each side effect carries its OWN fence, so a crash at
            # any point between them replays safely: the append is
            # version-fenced (skip when this epoch's commit already
            # landed), build/refresh are fenced by the view's meta +
            # cursor (refresh of a current view is a no-op), and the
            # per-epoch output dir is an idempotent overwrite. An
            # all-or-nothing epoch skip would instead strand the view
            # stale when a crash lands between append and refresh.
            e = int(epoch_id)
            try:
                cur = DeltaTable(f"{tmp}/t").current_version()
            except Exception:  # noqa: BLE001 — table not created yet
                cur = -1
            if cur < e:
                w.append(batch_df, timestamp_ms=1000 * (e + 1))
            if mv._meta() is None:
                mv.build(
                    spark, f"{tmp}/t",
                    keys=["o_orderpriority"], sums=["o_totalprice"],
                )
            else:
                mv.refresh(spark)
            (
                mv.read(spark)
                .select(
                    "o_orderpriority", "cnt",
                    F.col("sum_o_totalprice").cast("double").alias("sum_totalprice"),
                )
                .write.mode("overwrite")
                .parquet(f"{tmp}/out/epoch={e}")
            )

        q = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_ivm", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        F.col("epoch").cast("long").alias("epoch"),
        "o_orderpriority",
        "cnt",
        "sum_totalprice",
    )


_IVM_MINMAX_DRAIN_ORACLE = """
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS epoch, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS min_totalprice,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS max_totalprice
      FROM orders WHERE o_orderkey <= 1000 GROUP BY o_orderpriority
      UNION ALL
      SELECT 1, o_orderpriority, CAST(COUNT(*) AS BIGINT),
             CAST(MIN(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE),
             CAST(MAX(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM orders WHERE o_orderkey <= 2000 AND o_totalprice >= 30000
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 2, o_orderpriority, CAST(COUNT(*) AS BIGINT),
             CAST(MIN(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE),
             CAST(MAX(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      FROM orders
      WHERE (o_orderkey <= 2000 AND o_totalprice >= 30000)
         OR (o_orderkey > 2000 AND o_orderkey <= 3000)
      GROUP BY o_orderpriority
    )
"""


@_register("streaming_ivm_minmax_drain", _IVM_MINMAX_DRAIN_ORACLE)
def streaming_ivm_minmax_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING MIN/MAX view maintenance (r13): the continuous
    dashboard with extremes — a real readStream drain lands each
    micro-batch in the CDF-enabled Delta table, epoch 1 then runs a
    scripted DELETE that evicts every group's current minimums
    (o_totalprice < 30000 — past the extreme_k=8 heap, so the drain
    fence heals groups from the snapshot MID-STREAM), and the view
    refreshes its bounded candidate heaps from the change feed.
    Epoch 2's inserts restock the heaps with smaller values appended
    AFTER the delete (the temporal replay the oracle mirrors). Every
    side effect carries its own fence (version-fenced append and
    delete, cursor-fenced refresh, idempotent epoch output) so the
    at-least-once foreachBatch replay is exactly-once end to end."""
    from .operators.matview import MaterializedAggregate
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    bounds = [(-1, 1000), (1000, 2000), (2000, 3000)]

    def build(tmp: str) -> None:
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(bounds):
            stage = tempfile.mkdtemp(prefix="cdf_ivmm_part_")
            o.filter(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(stage, ignore_errors=True)

        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)
        mv = MaterializedAggregate(f"{tmp}/mv")
        # epoch -> table version AFTER that epoch's commits: epoch 0 =
        # v0 (append), epoch 1 = v1 (append) + v2 (delete), epoch 2 = v3
        ver_after = {0: 0, 1: 2, 2: 3}

        def handle(batch_df, epoch_id: int) -> None:
            e = int(epoch_id)
            try:
                cur = DeltaTable(f"{tmp}/t").current_version()
            except Exception:  # noqa: BLE001 — table not created yet
                cur = -1
            if cur < ver_after[e] - (1 if e == 1 else 0):
                w.append(batch_df, timestamp_ms=1000 * (e + 1))
                cur = DeltaTable(f"{tmp}/t").current_version()
            if e == 1 and cur < ver_after[1]:
                w.delete_where(spark, "o_totalprice < 30000", timestamp_ms=1500 * (e + 1))
            if mv._meta() is None:
                mv.build(
                    spark, f"{tmp}/t",
                    keys=["o_orderpriority"], sums=[],
                    mins=["o_totalprice"], maxs=["o_totalprice"], extreme_k=8,
                )
            else:
                mv.refresh(spark)
            (
                mv.read(spark)
                .select(
                    "o_orderpriority", "cnt",
                    F.col("min_o_totalprice").cast("double").alias("min_totalprice"),
                    F.col("max_o_totalprice").cast("double").alias("max_totalprice"),
                )
                .write.mode("overwrite")
                .parquet(f"{tmp}/out/epoch={e}")
            )

        q = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_ivm_minmax", sf, build)
    return spark.read.parquet(f"{tmp}/out").select(
        F.col("epoch").cast("long").alias("epoch"),
        "o_orderpriority",
        "cnt",
        "min_totalprice",
        "max_totalprice",
    )


@_register(
    "cohort_retention_weekly",
    """
    WITH ev AS (
      SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w FROM events
    ),
    cohorts AS (SELECT u, MIN(w) AS cw FROM ev GROUP BY u),
    active AS (SELECT DISTINCT u, w FROM ev),
    offsets AS (
      SELECT DISTINCT a.u, c.cw, CAST((a.w - c.cw) / 7 AS INTEGER) AS off
      FROM active a JOIN cohorts c ON a.u = c.u
      WHERE CAST((a.w - c.cw) / 7 AS INTEGER) <= 8
    )
    SELECT CAST(cw AS VARCHAR) AS cohort_week, off AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM offsets GROUP BY cw, off
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention triangle (r12,
    `operators/temporal.cohort_retention`): users cohorted by the
    Monday week of their first event, counted per (cohort, week
    offset 0..8). Two map-side-combinable aggregations + one
    user-keyed join; exact integer counts over exact date arithmetic
    — the oracle replays the whole triangle."""
    from .operators.temporal import cohort_retention

    return cohort_retention(_t(spark, sf, "events"), max_offset=8).withColumn(
        "cohort_week", F.col("cohort_week").cast("string")
    )


_CHUNK_BM25_ORACLE = r"""
    WITH t AS (SELECT doc_id, str_split_regex(trim(text), '\s+') AS toks0 FROM documents),
    s AS (SELECT doc_id, toks0, unnest(range(0, greatest(len(toks0), 1), 24)) AS st FROM t),
    chunks AS (
      SELECT doc_id * 1048576 + CAST(st // 24 AS BIGINT) AS cid,
             array_to_string(toks0[st + 1 : st + 32], ' ') AS ctext
      FROM s
    ),
    toks AS (
      SELECT cid,
             list_filter(regexp_split_to_array(lower(ctext), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM chunks
    ),
    stats AS (SELECT COUNT(*) AS n, COALESCE(SUM(len(ts)), 0) AS total FROM toks),
    flat AS (SELECT cid, len(ts) AS dl, unnest(ts) AS tok FROM toks),
    tf AS (SELECT cid, dl, tok, COUNT(*) AS tf FROM flat GROUP BY cid, dl, tok),
    qterms AS (
      SELECT * FROM (VALUES
        ('q1','hash'),('q1','join'),('q1','merge'),
        ('q2','window'),('q2','agg'),('q2','stream'),
        ('q3','fast'),('q3','table'),('q3','scan'),('q3','vector')
      ) AS q(qid, tok)
    ),
    dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf
      WHERE tok IN (SELECT tok FROM qterms) GROUP BY tok
    ),
    scored AS (
      SELECT q.qid, tf.cid,
             CAST(round(
               ln(1.0 + (n - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total AS DOUBLE) / n)))
               * 1000000.0
             ) AS BIGINT) AS s
      FROM tf JOIN qterms q USING (tok) JOIN dfreq USING (tok), stats
    ),
    agg AS (SELECT qid, cid, CAST(SUM(s) AS BIGINT) AS score_unat FROM scored GROUP BY qid, cid),
    ranked AS (
      SELECT qid, cid, score_unat,
             row_number() OVER (PARTITION BY qid ORDER BY score_unat DESC, cid ASC) AS rk
      FROM agg
    )
    SELECT qid, cid // 1048576 AS doc_id, cid % 1048576 AS chunk_idx, score_unat, rk
    FROM ranked WHERE rk <= 10
"""


@_register("rag_chunk_retrieval", _CHUNK_BM25_ORACLE)
def rag_chunk_retrieval(spark: SparkSession, sf: str) -> DataFrame:
    """RAG retrieval composition (r12): the chunker's 32-token/8-
    overlap windows become the BM25 corpus — top-10 CHUNKS per query
    with (doc_id, chunk_idx) provenance, the passage-level retrieval
    a RAG pipeline actually serves (document-level BM25 hands the
    generator whole documents; chunk-level hands it the passage).
    Chunk identity packs into one integer key (doc_id*2^20+idx) so
    the shared BM25 kernel applies unchanged; the packing GUARDS its
    headroom in the expression itself (a 2^20-chunk document is ~25M
    tokens at the 24-token stride — raise_error, never a silent
    collision into the next doc_id); chunk lengths re-anchor the
    length normalization (avgdl is chunk-scale, not doc-scale).
    The oracle replays chunking AND ranked retrieval end to end."""
    from .operators.chunking import chunk_by_tokens
    from .operators.retrieval import bm25_topk

    guarded_idx = F.when(F.col("chunk_idx") < F.lit(1 << 20), F.col("chunk_idx")).otherwise(
        F.raise_error(F.lit("chunk_idx overflows the 2^20 cid packing"))
    )
    chunks = chunk_by_tokens(
        _t(spark, sf, "documents"), chunk_tokens=32, overlap_tokens=8
    ).select(
        (F.col("id") * (1 << 20) + guarded_idx).cast("long").alias("cid"),
        "chunk_text",
    )
    out = bm25_topk(
        chunks, _bm25_query_df(spark), k=10, text_col="chunk_text", id_col="cid"
    )
    return out.select(
        "qid",
        F.expr("cid div 1048576").alias("doc_id"),
        (F.col("cid") % (1 << 20)).alias("chunk_idx"),
        "score_unat",
        "rk",
    )


@_register(
    "daily_count_anomalies",
    """
    WITH daily AS (
      SELECT event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, day
    ),
    moments AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS q
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.c, m.n_days,
           CAST((d.c * m.n_days - m.s) * (d.c * m.n_days - m.s) AS BIGINT) AS dev_sq,
           CAST(9 * (m.n_days * m.q - m.s * m.s) AS BIGINT) AS thresh,
           (d.c * m.n_days - m.s) * (d.c * m.n_days - m.s)
             > 9 * (m.n_days * m.q - m.s * m.s) AS is_anomaly
    FROM daily d JOIN moments m USING (event_type)
    """,
)
def daily_count_anomalies_q(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact three-sigma spike detection (r12,
    `operators/temporal.daily_count_anomalies`) over per-(type, day)
    event counts — |c-mean| > 3*sigma evaluated in its cross-
    multiplied integer form (no division/sqrt/floats), so the flag
    replays bit-identically in SQL. Two combinable aggregations + a
    broadcast of the |types|-row moment table."""
    from .operators.temporal import daily_count_anomalies

    return daily_count_anomalies(_t(spark, sf, "events"))


@_register(
    "systematic_resample_docs",
    """
    WITH keyed AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             md5(CAST(doc_id AS VARCHAR)) AS mk
      FROM documents WHERE n_chars > 0
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM keyed),
    spans AS (
      SELECT doc_id, w, CAST(SUM(w) OVER (ORDER BY mk, doc_id) AS BIGINT) AS hi
      FROM keyed
    ),
    counted AS (
      SELECT doc_id, w AS weight,
             CAST((hi * 300 + tw - 1) // tw
                  - ((hi - w) * 300 + tw - 1) // tw AS BIGINT) AS n_copies
      FROM spans, tot
    )
    SELECT doc_id, weight, n_copies FROM counted WHERE n_copies >= 1
    """,
)
def systematic_resample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic weight-proportional resampling (r12,
    `operators/sampling.systematic_resample`): 300 draws WITH
    replacement over the documents table, weight = n_chars — the
    low-variance resampler (particle-filter / importance-mixing
    standard) that reproduces the weight DISTRIBUTION where DSIR's
    top-k keeps only the heaviest. Copy counts come from the
    closed-form integer grid formula (no per-draw work); the weight
    line is laid in md5 order via the two-phase exact-cumsum
    discipline (no single-reducer window). The oracle replays grid
    arithmetic and cumsum exactly — the oracle's global window is
    the SEMANTIC spec the two-phase plan must reproduce
    bit-for-bit."""
    from .operators.sampling import systematic_resample

    return systematic_resample(_t(spark, sf, "documents"), weight_col="n_chars", n=300)


@_register(
    "funnel_conversion_stats",
    """
    WITH a AS (
      SELECT user_id AS u, MIN(ts) AS anchor FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (SELECT u, anchor, anchor AS c, anchor + INTERVAL 7 DAY AS hz FROM a),
    s2 AS (
      SELECT e.user_id AS u, s1.anchor, MIN(e.ts) AS c, s1.hz
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND e.ts > s1.c AND e.ts <= s1.hz
      GROUP BY e.user_id, s1.anchor, s1.hz
    ),
    s3 AS (
      SELECT e.user_id AS u, s2.anchor, MIN(e.ts) AS c, s2.hz
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND e.ts > s2.c AND e.ts <= s2.hz
      GROUP BY e.user_id, s2.anchor, s2.hz
    ),
    conv AS (
      SELECT u, CAST(epoch_ms(c) - epoch_ms(anchor) AS BIGINT) AS ms FROM s3
    ),
    ranked AS (
      SELECT u, ms, row_number() OVER (ORDER BY ms ASC, u ASC) AS rn FROM conv
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM conv)
    SELECT n.n AS n_converted,
           (SELECT ms FROM ranked, n WHERE rn = (n + 1) // 2) AS median_ms,
           (SELECT ms FROM ranked, n WHERE rn = (9 * n + 9) // 10) AS p90_ms
    FROM n
    """,
)
def funnel_conversion_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """Funnel time-to-convert (r12,
    `operators/temporal.funnel_conversion_stats`): for users who
    complete view->click->purchase within the 7-day anchored horizon,
    exact integer-millisecond conversion times with order-statistic
    lower-median and ceiling-p90 — no interpolation, no floats, SQL-
    replayed exactly."""
    from .operators.temporal import funnel_conversion_stats

    return funnel_conversion_stats(
        _t(spark, sf, "events"), ["view", "click", "purchase"], within="7 days"
    )


@_register(
    "tfidf_doc_similarity",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM toks),
    flat AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM flat GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    iw AS (
      SELECT tf.doc_id, tf.tok,
             CAST(round(tf * ln((n + 1.0) / (df + 1.0)) * 1000.0) AS BIGINT) AS iw
      FROM tf JOIN dfreq USING (tok), n
    ),
    norms AS (SELECT doc_id, CAST(SUM(iw * iw) AS BIGINT) AS nn FROM iw GROUP BY doc_id),
    q AS (SELECT doc_id AS qid FROM documents WHERE doc_id < 5),
    qiw AS (SELECT q.qid, iw.tok, iw.iw AS qw FROM iw JOIN q ON iw.doc_id = q.qid),
    dots AS (
      SELECT qiw.qid, iw.doc_id, CAST(SUM(iw.iw * qiw.qw) AS BIGINT) AS dot
      FROM iw JOIN qiw USING (tok)
      WHERE iw.doc_id != qiw.qid
      GROUP BY qiw.qid, iw.doc_id
    ),
    sims AS (
      SELECT d.qid, d.doc_id,
             CAST(round(d.dot / (sqrt(qn.nn) * sqrt(nm.nn)) * 1000000.0) AS BIGINT) AS sim_unat
      FROM dots d
      JOIN norms nm ON nm.doc_id = d.doc_id
      JOIN norms qn ON qn.doc_id = d.qid
    ),
    ranked AS (
      SELECT qid, doc_id, sim_unat,
             row_number() OVER (PARTITION BY qid ORDER BY sim_unat DESC, doc_id ASC) AS rk
      FROM sims
    )
    SELECT qid, doc_id, sim_unat, rk FROM ranked WHERE rk <= 10
    """,
)
def tfidf_doc_similarity_q(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse TF-IDF document similarity (r12,
    `operators/retrieval.tfidf_doc_similarity`): top-10 corpus docs
    for each of 5 query docs by TF-IDF cosine over posting-list
    joins — integer micro-unit weights, exact integer dots/norms,
    one fixed-order double per pair. The lexical complement of the
    embedding ANN family. Oracle replays weights, norms, sparse
    dots, and ranking end to end."""
    from .operators.retrieval import tfidf_doc_similarity

    docs = _t(spark, sf, "documents")
    return tfidf_doc_similarity(docs, docs.filter("doc_id < 5").select("doc_id"), k=10)


@_register(
    "bitext_margin_mining",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id % 50 = 0),
    assigned AS (
      SELECT id, cluster FROM (
        SELECT c.vec_id AS id, cents.cid AS cluster,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.e, cents.ce), 4) DESC, cents.cid ASC) AS rn
        FROM c CROSS JOIN cents) WHERE rn = 1
    ),
    pa AS (SELECT a.id, a.cluster, c.e FROM assigned a JOIN c ON c.vec_id = a.id WHERE a.id % 2 = 0),
    pb AS (SELECT a.id, a.cluster, c.e FROM assigned a JOIN c ON c.vec_id = a.id WHERE a.id % 2 = 1),
    pairs AS (
      SELECT pa.id AS xa, pb.id AS yb,
             CAST(round(round(list_cosine_similarity(pa.e, pb.e), 4) * 1000000.0) AS BIGINT) AS sim_u
      FROM pa JOIN pb ON pa.cluster = pb.cluster
    ),
    ranked AS (
      SELECT xa, yb, sim_u,
             row_number() OVER (PARTITION BY xa ORDER BY sim_u DESC, yb ASC) AS rx,
             row_number() OVER (PARTITION BY yb ORDER BY sim_u DESC, xa ASC) AS ry
      FROM pairs
    ),
    sx AS (SELECT xa, CAST(SUM(sim_u) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
           FROM ranked WHERE rx <= 4 GROUP BY xa),
    sy AS (SELECT yb, CAST(SUM(sim_u) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
           FROM ranked WHERE ry <= 4 GROUP BY yb),
    scored AS (
      SELECT r.xa AS a_id, r.yb AS b_id, r.sim_u AS sim_unat,
             (r.sim_u * (sx.n + sy.n) * 1000000) // (sx.s + sy.s) AS margin_unat
      FROM ranked r JOIN sx ON sx.xa = r.xa JOIN sy ON sy.yb = r.yb
      WHERE r.rx = 1 AND r.ry = 1 AND r.sim_u > 0 AND sx.s + sy.s > 0
    )
    SELECT a_id, b_id, sim_unat, CAST(margin_unat AS BIGINT) AS margin_unat
    FROM scored WHERE margin_unat >= 1200000
    """,
)
def bitext_margin_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Margin-criterion parallel-pair mining (r12,
    `operators/similarity.margin_bitext_mine` — the LASER/CCMatrix
    bitext rule): even/odd vec_id halves stand in for two languages;
    candidates are cluster-confined (IVF assignment, no corpus x
    corpus), pairs must be MUTUAL best matches, and the ratio margin
    (sim over the average of each endpoint's top-4 candidate sims,
    one integer floor division) must clear 1.2 — absolute cosine
    over-fires in dense neighborhoods, the margin normalizes by
    local density. Oracle replays assignment, ranking, margins, and
    the mutual filter end to end."""
    from .operators.similarity import margin_bitext_mine

    return margin_bitext_mine(
        _t(spark, sf, "embeddings"), side_expr="vec_id % 2 = 0", k=4,
        margin_threshold_micro=1_200_000,
    )


def _bt_oracle(iters: int = 5, k: int = 20) -> str:
    """Unrolled Bradley-Terry MM replay: the same symmetrized count
    table and the same three integer floor divisions (pair term,
    update, normalization) per iteration."""
    body = """
    WITH oq AS MATERIALIZED (
      SELECT l_orderkey AS ok, l_suppkey AS s, SUM(l_quantity) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    duels AS MATERIALIZED (
      SELECT a.s AS i, b.s AS j, CASE WHEN a.q > b.q THEN 1 ELSE 0 END AS win
      FROM oq a JOIN oq b ON a.ok = b.ok AND a.s != b.s
      WHERE a.q != b.q
    ),
    dstream AS MATERIALIZED (
      SELECT i, j, win FROM duels
      UNION ALL SELECT j, i, 1 - win FROM duels
    ),
    nij AS MATERIALIZED (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(win) AS BIGINT) AS wij
      FROM dstream GROUP BY i, j
    ),
    wins AS MATERIALIZED (SELECT i AS id, CAST(SUM(wij) AS BIGINT) AS w FROM nij GROUP BY i),
    np AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS np FROM nij),
    it0 AS MATERIALIZED (SELECT DISTINCT i AS id, CAST(1000000 AS BIGINT) AS p FROM nij)"""
    for t in range(iters):
        body += f""",
    d{t} AS MATERIALIZED (
      SELECT nij.i, CAST(SUM((n * 1000000000000) // greatest(pi.p + pj.p, 1)) AS BIGINT) AS d
      FROM nij JOIN it{t} pi ON pi.id = nij.i JOIN it{t} pj ON pj.id = nij.j
      GROUP BY nij.i
    ),
    raw{t} AS MATERIALIZED (
      SELECT d{t}.i AS id, CAST((w.w * 1000000000000) // greatest(d{t}.d, 1) AS BIGINT) AS praw
      FROM d{t} JOIN wins w ON w.id = d{t}.i
    ),
    tot{t} AS (SELECT CAST(SUM(praw) AS BIGINT) AS t FROM raw{t}),
    it{t + 1} AS MATERIALIZED (
      SELECT id, CAST((praw * (SELECT np FROM np) * 1000000) // (SELECT t FROM tot{t})
                 AS BIGINT) AS p
      FROM raw{t}
    )"""
    body += f""",
    ranked AS (
      SELECT id, p AS strength_unat,
             row_number() OVER (ORDER BY p DESC, id ASC) AS rank
      FROM it{iters}
    )
    SELECT id, strength_unat, rank FROM ranked WHERE rank <= {k}
    """
    return body


@_register("bradley_terry_supplier_strengths", _bt_oracle())
def bradley_terry_supplier_strengths(spark: SparkSession, sf: str) -> DataFrame:
    """Bradley-Terry preference fitting (r12,
    `operators/preference.bradley_terry_strengths`) — the pairwise-
    preference aggregation behind RLHF reward modeling and LLM-judge
    leaderboards, run on the fixture's duel stream: within each
    order, suppliers 'compete' (higher shipped quantity wins, ties
    excluded). Five MM iterations (Hunter 2004) in integer
    micro-units — pair terms, updates, and the drift-killing sum
    normalization are each ONE floor division — so the oracle
    unrolls an ITERATIVE ML fit exactly. Top-20 strengths."""
    from pyspark.sql.window import Window as _W

    from .operators.preference import bradley_terry_strengths

    li = _t(spark, sf, "lineitem")
    oq = li.groupBy(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s")).agg(
        F.sum("l_quantity").alias("q")
    )
    a, b = oq.alias("a"), oq.alias("b")
    duels = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.s") != F.col("b.s")))
        .filter(F.col("a.q") != F.col("b.q"))
        .select(
            F.col("a.s").alias("i"),
            F.col("b.s").alias("j"),
            F.when(F.col("a.q") > F.col("b.q"), F.lit(1)).otherwise(F.lit(0)).alias("win"),
        )
    )
    strengths = bradley_terry_strengths(duels, iterations=5)
    top = strengths.orderBy(F.col("strength_unat").desc(), F.col("id").asc()).limit(20)
    w = _W.orderBy(F.col("strength_unat").desc(), F.col("id").asc())
    return top.select("id", "strength_unat", F.row_number().over(w).alias("rank"))


@_register(
    "pmi_collocations_top",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    flat AS (SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS p FROM toks),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM flat GROUP BY tok),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM flat),
    prs AS (
      SELECT tok AS tok_a, lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS tok_b
      FROM flat
    ),
    bi AS (
      SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM prs
      WHERE tok_b IS NOT NULL GROUP BY tok_a, tok_b HAVING COUNT(*) >= 5
    ),
    scored AS (
      SELECT bi.tok_a, bi.tok_b, bi.c_ab,
             CAST(round(ln(c_ab * CAST(n.n AS DOUBLE) / (ua.c * ub.c)) * 1000000.0) AS BIGINT) AS pmi_unat
      FROM bi JOIN uni ua ON ua.tok = bi.tok_a JOIN uni ub ON ub.tok = bi.tok_b, n
    ),
    ranked AS (
      SELECT tok_a, tok_b, c_ab, pmi_unat,
             row_number() OVER (ORDER BY pmi_unat DESC, tok_a ASC, tok_b ASC) AS rank
      FROM scored
    )
    SELECT tok_a, tok_b, c_ab, pmi_unat, rank FROM ranked WHERE rank <= 20
    """,
)
def pmi_collocations_top(spark: SparkSession, sf: str) -> DataFrame:
    """PMI collocation extraction (r12,
    `operators/text.pmi_collocations`): top-20 adjacent-token pairs
    by pointwise mutual information (Church & Hanks) with the
    standard min-count correction — exact integer counts, micro-nat
    PMI (one fixed-order double per surviving pair). Count tables are
    vocabulary-sized; the corpus is touched once."""
    from .operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf, "documents"), k=20, min_count=5)


@_register(
    "last_touch_attribution",
    """
    WITH conv AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, MAX(event_type) AS tt FROM events
      WHERE event_type IN ('view', 'click') GROUP BY user_id, ts
    ),
    ranked AS (
      SELECT c.event_id, t.tt,
             row_number() OVER (PARTITION BY c.event_id ORDER BY t.ts DESC) AS rn
      FROM conv c JOIN t ON t.user_id = c.user_id
       AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 1 DAY
    ),
    att AS (SELECT event_id, tt FROM ranked WHERE rn = 1)
    SELECT COALESCE(a.tt, 'none') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM conv c LEFT JOIN att a USING (event_id)
    GROUP BY 1
    """,
)
def last_touch_attribution_q(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution (r12,
    `operators/temporal.last_touch_attribution`): purchases credited
    to the user's most recent view/click within 24h (as-of semantics,
    deterministic same-ts dedup), unmatched purchases bucketed as
    'none'. Rides the asof_join union+window machinery — one
    user-keyed shuffle, no range self-join."""
    from .operators.temporal import last_touch_attribution

    return last_touch_attribution(_t(spark, sf, "events"))


@_register(
    "daily_trend_slopes",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day
    ),
    based AS (
      SELECT d.event_type,
             CAST(d.day - m.d0 AS BIGINT) AS x, d.y
      FROM daily d JOIN (
        SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY event_type
      ) m USING (event_type)
    ),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM based GROUP BY event_type
    )
    SELECT event_type, n_days,
           CASE WHEN n_days * sxx - sx * sx != 0 THEN
             CAST(round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                        / CAST(n_days * sxx - sx * sx AS DOUBLE) * 1000000.0) AS BIGINT)
           END AS slope_micro
    FROM stats
    """,
)
def daily_trend_slopes_q(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type daily-count trend (r12,
    `operators/temporal.daily_trend_slopes`): closed-form least
    squares over exact integer sufficient statistics, slope as ONE
    fixed-order micro-rounded double per type — the no-iteration
    member of the fitting family."""
    from .operators.temporal import daily_trend_slopes

    return daily_trend_slopes(_t(spark, sf, "events"))


# ---------------------------------------------------------------------------
# Evaluation analytics (r13): retrieval metrics, PR sweep, Fleiss' kappa
# ---------------------------------------------------------------------------

_RETR_EVAL_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n, COALESCE(SUM(len(ts)), 0) AS total FROM toks),
    flat AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks),
    tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf FROM flat GROUP BY doc_id, dl, tok),
    qterms AS (
      SELECT * FROM (VALUES
        ('q1','hash'),('q1','join'),('q1','merge'),
        ('q2','window'),('q2','agg'),('q2','stream'),
        ('q3','fast'),('q3','table'),('q3','scan'),('q3','vector')
      ) AS q(qid, tok)
    ),
    dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf
      WHERE tok IN (SELECT tok FROM qterms) GROUP BY tok
    ),
    scored AS (
      SELECT q.qid, tf.doc_id,
             CAST(round(
               ln(1.0 + (n - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total AS DOUBLE) / n)))
               * 1000000.0
             ) AS BIGINT) AS s
      FROM tf JOIN qterms q USING (tok) JOIN dfreq USING (tok), stats
    ),
    agg AS (SELECT qid, doc_id, CAST(SUM(s) AS BIGINT) AS score_unat FROM scored GROUP BY qid, doc_id),
    ranked AS (
      SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid ORDER BY score_unat DESC, doc_id ASC) AS rk
      FROM agg
    ),
    run AS (SELECT qid, doc_id, rk FROM ranked WHERE rk <= 10),
    qrel AS (
      SELECT q.qid, t.doc_id, CAST(COUNT(*) AS BIGINT) AS grade
      FROM toks t, qterms q
      WHERE list_contains(t.ts, q.tok)
      GROUP BY q.qid, t.doc_id
      HAVING COUNT(*) >= 2
    ),
    hits AS (
      SELECT r.qid, r.rk,
             CAST(round(qr.grade * 1000000.0 / (ln(r.rk + 1.0) / ln(2.0))) AS BIGINT) AS p
      FROM run r JOIN qrel qr ON r.qid = qr.qid AND r.doc_id = qr.doc_id
    ),
    got AS (
      SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits, MIN(rk) AS minrk,
             CAST(SUM(p) AS BIGINT) AS dcg
      FROM hits GROUP BY qid
    ),
    ideal AS (
      SELECT qid, CAST(SUM(ip) AS BIGINT) AS idcg FROM (
        SELECT qid, CAST(round(grade * 1000000.0 / (ln(irk + 1.0) / ln(2.0))) AS BIGINT) AS ip
        FROM (
          SELECT qid, grade,
                 row_number() OVER (PARTITION BY qid ORDER BY grade DESC, doc_id ASC) AS irk
          FROM qrel
        ) WHERE irk <= 10
      ) GROUP BY qid
    ),
    tot AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS rel_total FROM qrel GROUP BY qid)
    SELECT t.qid, t.rel_total,
           CAST(COALESCE(g.hits, 0) AS BIGINT) AS hits,
           CAST(1000000 // g.minrk AS BIGINT) AS mrr_unat,
           CAST(COALESCE(g.hits, 0) * 1000000 // t.rel_total AS BIGINT) AS recall_unat,
           CAST(COALESCE(g.dcg, 0) * 1000000 // i.idcg AS BIGINT) AS ndcg_unat
    FROM tot t JOIN ideal i USING (qid) LEFT JOIN got g USING (qid)
"""


@_register("retrieval_eval_metrics", _RETR_EVAL_ORACLE)
def retrieval_eval_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval evaluation loop (r13,
    `operators/evaluation.retrieval_metrics`): the BM25 top-10 run is
    graded against derived qrels (grade = number of the query's terms
    the document contains, relevant at grade >= 2 — the vocabulary-
    overlap judgment a pooled eval set approximates) into per-query
    MRR / recall@10 / nDCG@10, every metric an integer micro-unit
    (reciprocal ranks and recalls are integer floor divisions; DCG
    partials are single fixed-order doubles micro-rounded at the leaf
    so per-query sums are exact). The oracle replays the retriever AND
    the grader end to end — metric bugs can't hide behind a correct
    run."""
    from .operators.evaluation import retrieval_metrics
    from .operators.retrieval import _pinned_tf_stats, _query_terms, _score_topk
    from .operators.text import spread_compute

    # ONE corpus tokenize feeds the run AND the qrels (r15, guide
    # §1.2): both legs read the pinned tf table — the qrels grade
    # (number of the query's terms the document contains) is EXACTLY
    # the count of matching tf rows, because tf holds one row per
    # (doc, tok); the former array_contains leg re-tokenized the whole
    # corpus a second time to learn the same membership.
    docs = spread_compute(_t(spark, sf, "documents"))
    tf, n_docs, avgdl = _pinned_tf_stats(docs, "text", "doc_id")
    run = _score_topk(
        tf, _query_terms(_bm25_query_df(spark), "qid", "qtext"), n_docs, avgdl, 10, "doc_id"
    )
    qt = spark.createDataFrame(
        [(q, t) for q, text in _BM25_QUERIES for t in text.split()], ["qid", "tok"]
    )
    qrels = (
        tf.join(F.broadcast(qt), on="tok")
        .groupBy("qid", F.col("_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("grade"))
        .filter(F.col("grade") >= 2)
    )
    return retrieval_metrics(run, qrels, k=10)


_PR_SWEEP_ORACLE = """
    WITH f AS (
      SELECT doc_id, source, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
        CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', '')))
          + (length(text) - length(replace(text, ';', ''))) AS n_punct
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, source, n_tokens,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS atl,
        round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS pr,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS sr
      FROM f
    ),
    sc AS (
      SELECT round(1.0/(1.0 + exp(-(-1.5 + CAST(n_tokens AS DOUBLE) * 0.02 + atl * 0.35 + sr * 6.0 + pr * (-4.0)))), 6) AS threshold,
             CASE WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 1 ELSE 0 END AS lab
      FROM g2
    ),
    g AS (
      SELECT threshold, CAST(SUM(lab) AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS tot
      FROM sc GROUP BY threshold
    ),
    c AS (
      SELECT threshold,
             CAST(SUM(pos) OVER (ORDER BY threshold DESC) AS BIGINT) AS tp,
             CAST(SUM(tot) OVER (ORDER BY threshold DESC) AS BIGINT) AS ctot
      FROM g
    ),
    p AS (SELECT CAST(SUM(pos) AS BIGINT) AS pp FROM g)
    SELECT threshold, tp, CAST(ctot - tp AS BIGINT) AS fp, CAST(pp - tp AS BIGINT) AS fn,
           CAST(tp * 1000000 // ctot AS BIGINT) AS precision_unat,
           CAST(tp * 1000000 // pp AS BIGINT) AS recall_unat
    FROM c, p
"""


@_register("quality_pr_sweep", _PR_SWEEP_ORACLE)
def quality_pr_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier calibration loop (r13,
    `operators/evaluation.pr_threshold_sweep`): the model-based
    quality score swept over every distinct threshold against a
    domain-derived label (sources src0-src9 = positive — the
    domain-level supervision quality classifiers are actually trained
    on), yielding the exact precision-recall curve a curation pipeline
    reads to pick `quality_clf_filter`'s threshold. Cumulation is the
    suite's two-phase exact cumsum (range-repartition + O(partitions)
    driver offsets) — no single-reducer global window; the oracle's
    plain window replays it bit-for-bit."""
    from .operators.curation import quality_clf_score
    from .operators.evaluation import pr_threshold_sweep

    scored = _t(spark, sf, "documents").select(
        quality_clf_score(F.col("text")).alias("score"),
        (F.expr("cast(substring(source, 4) as int)") < 10).cast("long").alias("label"),
    )
    return pr_threshold_sweep(scored)


_FLEISS_ORACLE = """
    WITH r AS (
      SELECT doc_id // 4 AS item, substr(md5(text), 1, 1) AS label FROM documents
    ),
    cells AS (SELECT item, label, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY item, label),
    a AS (
      SELECT CAST(SUM(n * n) AS BIGINT) AS s,
             CAST(COUNT(DISTINCT item) AS BIGINT) AS nn
      FROM cells
    ),
    lab AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS e
      FROM (SELECT CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY label)
    )
    SELECT nn AS n_items, CAST(4 AS BIGINT) AS n_raters,
           CAST(round(CAST(s - nn * 4 AS DOUBLE) / CAST(nn * 4 * 3 AS DOUBLE) * 1000000.0) AS BIGINT) AS pbar_unat,
           CAST(round(CAST(e AS DOUBLE) / CAST((nn * 4) * (nn * 4) AS DOUBLE) * 1000000.0) AS BIGINT) AS pe_unat,
           CAST(round(
             (CAST(s - nn * 4 AS DOUBLE) / CAST(nn * 4 * 3 AS DOUBLE)
              - CAST(e AS DOUBLE) / CAST((nn * 4) * (nn * 4) AS DOUBLE))
             / (1.0 - CAST(e AS DOUBLE) / CAST((nn * 4) * (nn * 4) AS DOUBLE))
             * 1000000.0
           ) AS BIGINT) AS kappa_unat
    FROM a, lab
"""


@_register("annotation_fleiss_kappa", _FLEISS_ORACLE)
def annotation_fleiss_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-annotator agreement (r13,
    `operators/evaluation.fleiss_kappa`): the documents table is
    deterministically recast as an annotation task — items of 4 docs
    each (doc_id DIV 4; the table's dense ids make n constant), each
    'rater' assigning the doc's md5-derived label bucket — and Fleiss'
    kappa over the item x label counts lands near zero, exactly as
    independent raters should. All five sufficient statistics are
    exact integers; P-bar, P-e and kappa are single fixed-order
    doubles micro-rounded at the leaf, replayed token for token by
    the oracle."""
    from .operators.evaluation import fleiss_kappa

    ratings = _t(spark, sf, "documents").select(
        F.expr("doc_id div 4").alias("item"),
        F.substring(F.md5(F.col("text")), 1, 1).alias("label"),
    )
    return fleiss_kappa(ratings, item_col="item", label_col="label")


_CALIB_ORACLE = """
    WITH f AS (
      SELECT doc_id, source, length(text) AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST((length(trim(text)) - length(replace(trim(text), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
        CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' the ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' a ', '')) AS BIGINT)/3
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' and ', '')) AS BIGINT)/5
          + CAST(length(' '||text||' ') - length(replace(' '||text||' ', ' of ', '')) AS BIGINT)/4 AS n_stop,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', '')))
          + (length(text) - length(replace(text, ';', ''))) AS n_punct
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, source, n_tokens,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)/n_tokens ELSE 0.0 END, 4) AS atl,
        round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS pr,
        round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS sr
      FROM f
    ),
    sc AS (
      SELECT round(1.0/(1.0 + exp(-(-1.5 + CAST(n_tokens AS DOUBLE) * 0.02 + atl * 0.35 + sr * 6.0 + pr * (-4.0)))), 6) AS s,
             CASE WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 1 ELSE 0 END AS lab
      FROM g2
    ),
    binned AS (
      SELECT LEAST(CAST(floor(s * 10) AS BIGINT), 9) AS bin,
             CAST(round(s * 1000000.0) AS BIGINT) AS su, lab
      FROM sc
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(lab) AS BIGINT) AS pos,
           CAST(SUM(su) // COUNT(*) AS BIGINT) AS avg_score_unat,
           CAST(SUM(lab) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_unat,
           CAST(abs(SUM(lab) * 1000000 // COUNT(*) - SUM(su) // COUNT(*)) AS BIGINT) AS gap_unat
    FROM binned GROUP BY bin
"""


@_register("quality_calibration_bins", _CALIB_ORACLE)
def quality_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier calibration diagram (r13,
    `operators/evaluation.calibration_bins`): the quality score
    binned into deciles against the domain-derived label — per-bin
    exact confidence (micro-unit score sums) vs accuracy (positive
    rate) and their gap, the reliability diagram ECE is one aggregate
    away from. Scores become exact micro integers at the leaf, so the
    whole diagram is integer arithmetic after one combinable
    aggregation; the oracle replays score, label, binning and rates."""
    from .operators.curation import quality_clf_score
    from .operators.evaluation import calibration_bins

    scored = _t(spark, sf, "documents").select(
        quality_clf_score(F.col("text")).alias("score"),
        (F.expr("cast(substring(source, 4) as int)") < 10).cast("long").alias("label"),
    )
    return calibration_bins(scored, n_bins=10)


_PSI_ORACLE = """
    WITH b AS (
      SELECT CAST(MIN(CAST(o_totalprice AS DOUBLE)) AS DOUBLE) AS lo,
             CAST(MAX(CAST(o_totalprice AS DOUBLE)) AS DOUBLE) AS hi
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    ),
    rb AS (
      SELECT CAST(LEAST(GREATEST(CAST(floor((CAST(o_totalprice AS DOUBLE) - lo) * 10.0 / (hi - lo)) AS BIGINT), 0), 9) AS VARCHAR) AS bin
      FROM orders, b
      WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL
    ),
    cb AS (
      SELECT CAST(LEAST(GREATEST(CAST(floor((CAST(o_totalprice AS DOUBLE) - lo) * 10.0 / (hi - lo)) AS BIGINT), 0), 9) AS VARCHAR) AS bin
      FROM orders, b
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL
    ),
    rc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS ref_n FROM rb GROUP BY bin),
    cc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cur_n FROM cb GROUP BY bin),
    bo AS (
      SELECT COALESCE(rc.bin, cc.bin) AS bin,
             COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
      FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS kb,
             CAST(SUM(ref_n) AS BIGINT) AS rt, CAST(SUM(cur_n) AS BIGINT) AS ct
      FROM bo
    )
    SELECT bin, ref_n, cur_n,
           CAST(round(
             (CAST(cur_n + 1 AS DOUBLE) / CAST(ct + kb AS DOUBLE)
              - CAST(ref_n + 1 AS DOUBLE) / CAST(rt + kb AS DOUBLE))
             * ln((CAST(cur_n + 1 AS DOUBLE) * CAST(rt + kb AS DOUBLE))
                  / (CAST(ref_n + 1 AS DOUBLE) * CAST(ct + kb AS DOUBLE)))
             * 1000000.0
           ) AS BIGINT) AS psi_unat
    FROM bo, tot
"""


@_register("psi_drift_orders", _PSI_ORACLE)
def psi_drift_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-drift monitor (r13, `operators/drift.psi_drift`):
    population stability index of o_totalprice between the pre-1997
    order book (the reference that defines the expected range and
    deciles) and everything after — the alarm a pipeline runs between
    corpus versions before retraining on the new one. Equal-width
    bins over the reference's [min, max] with edge clamping; Laplace
    add-1 smoothing keeps empty bins finite and deterministic; each
    per-bin term is one fixed-order double over exact integer counts,
    micro-nat rounded, so total PSI is an exact integer sum. The two
    snapshots never join row-wise — only their O(bins) count tables
    meet."""
    from .operators.drift import psi_drift

    o = _t(spark, sf, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    return psi_drift(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        "o_totalprice",
        bins=10,
    )


_WSAMPLE_ORACLE = """
    WITH keyed AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
                / 281474976710657.0)
             / CAST(length(text) AS DOUBLE) AS k
      FROM documents WHERE length(text) > 0
    ),
    ranked AS (
      SELECT doc_id, weight,
             row_number() OVER (ORDER BY k DESC, doc_id ASC) AS rank
      FROM keyed
    )
    SELECT doc_id, weight, rank FROM ranked WHERE rank <= 64
"""


@_register("weighted_sample_docs", _WSAMPLE_ORACLE)
def weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement (r13,
    `operators/sampling.weighted_sample_no_replacement`, Efraimidis &
    Spirakis 2006): 64 distinct documents drawn with probability
    proportional to length — the "take k docs, quality-weighted, no
    duplicates" curation cut that `systematic_resample`'s
    with-replacement copies can't express. The A-ES key ln(u)/w rides
    the suite's engine-portable md5 uniform (first 48 bits + 1 over
    2^48 + 1, an exact IEEE double on both engines); the cut is
    TakeOrderedAndProject (per-partition top-k merge, never a global
    sort), ranks windowed over the 64 survivors only."""
    from .operators.sampling import weighted_sample_no_replacement

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.length("text").cast("long").alias("w")
    )
    return weighted_sample_no_replacement(docs, 64, "w")


_WINNOW_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest([{'pos': i - 1,
                      'h': CAST(('0x' || substr(md5(array_to_string(ts[i:i+4], ' ')), 1, 10)) AS BIGINT)}
                     for i in range(1, len(ts) - 3)], recursive := true)
      FROM toks
    ),
    p AS (SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS c FROM g),
    s AS (
      SELECT doc_id,
             MIN(c) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      FROM p
    ),
    fps AS (SELECT DISTINCT doc_id, sel // 1048576 AS fp FROM s),
    hot AS (
      SELECT fp FROM (SELECT fp, COUNT(*) AS dfq FROM fps GROUP BY fp) WHERE dfq > 1000
    ),
    cool AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot))
    SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM cool x JOIN cool y ON x.fp = y.fp AND x.doc_id < y.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 5
"""


@_register("winnow_near_dups_docs", _WINNOW_ORACLE)
def winnow_near_dups_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (r13,
    `operators/curation.winnow_fingerprints` — Schleimer, Wilkerson &
    Aiken 2003, the MOSS algorithm): every 5-token gram hashed to a
    40-bit integer, each 4-gram window keeping its minimum — the
    paper's smallest-hash/rightmost-tie rule implemented as ONE
    integer window MIN over the packed (hash, position) key — then
    near-dup pairs sharing >= 5 selected fingerprints via the
    fingerprint-bucketed join (document-frequency cap drops
    boilerplate fingerprints before the join, the LSH-band
    discipline). The 7th member of the dedup family: MinHash answers
    "how similar", ExactSubstr "which exact spans", winnowing "which
    documents share ANY long run" at tunable density. The oracle
    replays grams, packing, window selection and pairing exactly."""
    from .operators.curation import winnow_near_dups

    return winnow_near_dups(
        _t(spark, sf, "documents"), k=5, w=4, min_shared=5, df_cap=1000
    )


_UNIMAX_ORACLE = """
    WITH toks AS (
      SELECT source AS domain,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS nt
      FROM documents
    ),
    dom AS (SELECT domain, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM toks GROUP BY domain),
    c AS (SELECT domain, n_tokens, n_tokens * 1 AS cap FROM dom),
    r AS (
      SELECT domain, n_tokens, cap,
             row_number() OVER (ORDER BY cap, domain) AS k,
             COALESCE(SUM(cap) OVER (ORDER BY cap, domain
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
             COUNT(*) OVER () AS n
      FROM c
    ),
    r2 AS (SELECT *, (cap * (n - k + 1)) <= (26000 - pfx) AS capped FROM r),
    paid AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0) AS BIGINT) AS paid,
             CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS ncap
      FROM r2
    ),
    r3 AS (
      SELECT r2.*, paid.paid, paid.ncap,
             row_number() OVER (PARTITION BY capped ORDER BY cap, domain) AS uk
      FROM r2, paid
    )
    SELECT domain, n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN capped THEN cap
                ELSE (26000 - paid) // GREATEST(n - ncap, 1)
                     + CASE WHEN uk <= (26000 - paid) % GREATEST(n - ncap, 1)
                            THEN 1 ELSE 0 END
           END AS BIGINT) AS alloc_tokens,
           capped
    FROM r3
"""


@_register("unimax_budget_allocation", _UNIMAX_ORACLE)
def unimax_budget_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax domain budget allocation (r13,
    `operators/packing.unimax_allocate` — Chung et al. 2023): split a
    26k-token training budget uniformly across the 20 document
    domains with a 1-epoch repeat cap — small domains cap at their
    own mass and the spare waterfalls to the rest, the fairer
    alternative to temperature mixing's residual head bias. The
    waterfill is CLOSED FORM over the ascending-cap order (capped iff
    cap_k*(n-k+1) <= budget - prefix; prefix-capped monotonicity makes
    the per-row rule exact), remainder tokens pinned to the smallest
    uncapped domains — pure integer arithmetic, allocations summing
    exactly to the budget, replayed by the oracle window-for-window.
    The domain ranking window is bounded by the DOMAIN count (20),
    never by rows."""
    from .operators.packing import unimax_allocate

    return unimax_allocate(
        _t(spark, sf, "documents"), budget_tokens=26_000, max_epochs=1
    )


def _winnow_keep_oracle(unroll: int = 8) -> str:
    """Winnow-pair near-dup clustering replay: the _WINNOW_ORACLE CTEs
    produce the pair edges, the shared star rounds contract them, and
    every document keeps itself iff it is its cluster's minimum id."""
    head = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest([{'pos': i - 1,
                      'h': CAST(('0x' || substr(md5(array_to_string(ts[i:i+4], ' ')), 1, 10)) AS BIGINT)}
                     for i in range(1, len(ts) - 3)], recursive := true)
      FROM toks
    ),
    p AS (SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS c FROM g),
    s AS (
      SELECT doc_id,
             MIN(c) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      FROM p
    ),
    fps AS (SELECT DISTINCT doc_id, sel // 1048576 AS fp FROM s),
    hot AS (
      SELECT fp FROM (SELECT fp, COUNT(*) AS dfq FROM fps GROUP BY fp) WHERE dfq > 1000
    ),
    cool AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot)),
    prs AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM cool x JOIN cool y ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM prs)"""
    tail = f"""
    SELECT d.doc_id, COALESCE(st.b, d.doc_id) AS cluster,
           (d.doc_id = COALESCE(st.b, d.doc_id)) AS keep
    FROM documents d LEFT JOIN e{unroll} st ON st.a = d.doc_id
    """
    return head + _star_rounds_sql(unroll) + tail


@_register("winnow_dedup_keep", _winnow_keep_oracle())
def winnow_dedup_keep(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end fingerprint dedup (r13 capstone composition):
    winnowing near-dup pairs (`curation.winnow_near_dups`) become the
    candidate graph, large-star/small-star contraction
    (`graph.connected_components_star`) clusters them in O(log n)
    rounds, and each cluster keeps its minimum doc id — the full
    "fingerprint -> pair -> cluster -> canonical survivor" pipeline a
    provenance-grade dedup pass runs, three r13 operators composed.
    Dup clusters are shallow so 8 rounds is pinned generously (the
    operator raises past its budget rather than diverging from the
    8-round oracle unroll); singletons keep themselves via the left
    join. Oracle replays fingerprinting, pairing, every contraction
    round, and the survivor rule."""
    from .operators.curation import winnow_near_dups
    from .operators.graph import connected_components_star

    docs = _t(spark, sf, "documents")
    pairs = winnow_near_dups(docs, k=5, w=4, min_shared=5, df_cap=1000)
    comp = connected_components_star(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")), max_rounds=8
    )
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
            (F.col("doc_id") == F.coalesce(F.col("component"), F.col("doc_id"))).alias("keep"),
        )
    )


_DISTINCT_N_ORACLE = """
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
      FROM documents
    ),
    g1 AS (SELECT unnest(ts) AS g FROM toks),
    g2 AS (
      SELECT unnest([array_to_string(ts[i:i+1], ' ') for i in range(1, len(ts))]) AS g
      FROM toks
    ),
    g3 AS (
      SELECT unnest([array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]) AS g
      FROM toks
    ),
    r1 AS (SELECT CAST(1 AS INT) AS n, CAST(COUNT(DISTINCT g) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS t FROM g1),
    r2 AS (SELECT 2, CAST(COUNT(DISTINCT g) AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM g2),
    r3 AS (SELECT 3, CAST(COUNT(DISTINCT g) AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM g3),
    allr AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
    SELECT n, d AS distinct_grams, t AS total_grams,
           CASE WHEN t > 0 THEN CAST(d * 1000000 // t AS BIGINT) END AS ratio_unat
    FROM allr
"""


@_register("corpus_distinct_ngrams", _DISTINCT_N_ORACLE)
def corpus_distinct_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus diversity (r13, `operators/text.distinct_ngram_ratios` —
    the distinct-1/2/3 metric of Li et al. 2016 in corpus form):
    distinct over total grams per order, the mode-collapse/templated-
    spam signal that moves long before any single document's
    repetition profile does. One distinct-count + one total per order
    (grams live only inside codegen); integer micro-unit ratios."""
    from .operators.text import distinct_ngram_ratios

    return distinct_ngram_ratios(_t(spark, sf, "documents"), orders=(1, 2, 3))


_LM_KN_ORACLE = """
    WITH docs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS arr
      FROM documents
    ),
    toks AS (
      SELECT d.doc_id AS _id, u.tok, u.ord
      FROM docs d,
      LATERAL (SELECT unnest(d.arr) AS tok, generate_subscripts(d.arr, 1) AS ord) u
    ),
    seq AS (
      SELECT _id, tok, ord,
             lead(tok) OVER (PARTITION BY _id ORDER BY ord) AS w2
      FROM toks
    ),
    trans AS (SELECT _id, tok AS w1, w2 FROM seq WHERE w2 IS NOT NULL),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM uni),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM trans GROUP BY w1, w2),
    lft AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM c12 GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS ncont FROM c12 GROUP BY w2),
    nt AS (SELECT COUNT(*) AS nt FROM c12),
    lm2 AS (
      SELECT c12.w1, c12.w2,
             CAST(round(ln(
               (CAST(c12.c12 AS DOUBLE) - 0.75
                + 0.75 * lft.n1p * (CAST(cont.ncont AS DOUBLE) / CAST(nt.nt AS DOUBLE)))
               / lft.c1
             ) * 1000000.0) AS BIGINT) AS lp2
      FROM c12 JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN nt
    ),
    lm1 AS (
      SELECT tok,
             CAST(round((ln(c + 1.0) - ln(CAST(n_total + v AS DOUBLE))) * 1000000.0) AS BIGINT) AS lp1
      FROM uni CROSS JOIN tot
    ),
    first AS (
      SELECT s._id, SUM(l.lp1) AS s1
      FROM seq s JOIN lm1 l ON s.tok = l.tok WHERE s.ord = 1 GROUP BY s._id
    ),
    tr AS (
      SELECT t._id, COUNT(*) AS n_trans, SUM(l.lp2) AS s2
      FROM trans t JOIN lm2 l ON t.w1 = l.w1 AND t.w2 = l.w2 GROUP BY t._id
    )
    SELECT f._id AS doc_id,
           COALESCE(tr.n_trans, 0) + 1 AS n_tokens,
           round(-CAST(f.s1 + COALESCE(tr.s2, 0) AS DOUBLE)
                 / (CAST(COALESCE(tr.n_trans, 0) + 1 AS DOUBLE) * 1000000.0), 6) AS nll_nats
    FROM first f LEFT JOIN tr ON f._id = tr._id
"""


@_register("lm_kn_bigram_perplexity", _LM_KN_ORACLE)
def lm_kn_bigram_perplexity_q(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (r13,
    `operators/curation.lm_kn_bigram_perplexity_scores` — Kneser & Ney
    1995, Chen & Goodman's interpolated form, fixed D=0.75): the
    smoothing production n-gram filters (KenLM/CCNet) actually run.
    Continuation probability N1+(.,w2)/|bigrams| replaces the raw
    unigram in the backoff mass, so collocation-bound tokens stop
    inheriting undeserved probability. Self-scoring keeps every
    transition observed (no unseen branch); per-transition log-probs
    are single fixed-order doubles over five exact integers, micro-nat
    rounded — the oracle replays counts, discount, interpolation and
    both boundary rules token for token."""
    from .operators.curation import lm_kn_bigram_perplexity_scores

    return lm_kn_bigram_perplexity_scores(_t(spark, sf, "documents"))


_PSI_DRAIN_ORACLE = """
    WITH b AS (
      SELECT CAST(MIN(CAST(o_totalprice AS DOUBLE)) AS DOUBLE) AS lo,
             CAST(MAX(CAST(o_totalprice AS DOUBLE)) AS DOUBLE) AS hi
      FROM orders WHERE o_orderkey <= 1000
    ),
    rb AS (
      SELECT CAST(LEAST(GREATEST(CAST(floor((CAST(o_totalprice AS DOUBLE) - lo) * 10.0 / (hi - lo)) AS BIGINT), 0), 9) AS VARCHAR) AS bin
      FROM orders, b WHERE o_orderkey <= 1000 AND o_totalprice IS NOT NULL
    ),
    rc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS ref_n FROM rb GROUP BY bin),
    ep AS (SELECT * FROM (VALUES (1, 2000), (2, 3000)) AS e(epoch, hik)),
    cb AS (
      SELECT e.epoch,
             CAST(LEAST(GREATEST(CAST(floor((CAST(o.o_totalprice AS DOUBLE) - b.lo) * 10.0 / (b.hi - b.lo)) AS BIGINT), 0), 9) AS VARCHAR) AS bin
      FROM orders o, b, ep e
      WHERE o.o_orderkey <= e.hik AND o.o_totalprice IS NOT NULL
    ),
    cc AS (SELECT epoch, bin, CAST(COUNT(*) AS BIGINT) AS cur_n FROM cb GROUP BY epoch, bin),
    bo2 AS (
      SELECT e.epoch, COALESCE(c2.bin, rc.bin) AS bin,
             COALESCE(rc.ref_n, 0) AS ref_n, COALESCE(c2.cur_n, 0) AS cur_n
      FROM ep e
      JOIN (
        SELECT epoch, bin FROM cc
        UNION
        SELECT e2.epoch, rc.bin FROM ep e2, rc
      ) bins ON bins.epoch = e.epoch
      LEFT JOIN cc c2 ON c2.epoch = bins.epoch AND c2.bin = bins.bin
      LEFT JOIN rc ON rc.bin = bins.bin
    ),
    tot AS (
      SELECT epoch, CAST(COUNT(*) AS BIGINT) AS kb,
             CAST(SUM(ref_n) AS BIGINT) AS rt, CAST(SUM(cur_n) AS BIGINT) AS ct
      FROM bo2 GROUP BY epoch
    ),
    terms AS (
      SELECT bo2.epoch,
             CAST(round(
               (CAST(cur_n + 1 AS DOUBLE) / CAST(ct + kb AS DOUBLE)
                - CAST(ref_n + 1 AS DOUBLE) / CAST(rt + kb AS DOUBLE))
               * ln((CAST(cur_n + 1 AS DOUBLE) * CAST(rt + kb AS DOUBLE))
                    / (CAST(ref_n + 1 AS DOUBLE) * CAST(ct + kb AS DOUBLE)))
               * 1000000.0
             ) AS BIGINT) AS psi
      FROM bo2 JOIN tot ON tot.epoch = bo2.epoch
    ),
    reports AS (
      SELECT epoch, CAST(SUM(psi) AS BIGINT) AS total_psi_unat FROM terms GROUP BY epoch
    )
    SELECT CAST(0 AS BIGINT) AS epoch, 'baseline' AS action,
           CAST(NULL AS BIGINT) AS total_psi_unat, CAST(NULL AS VARCHAR) AS verdict
    UNION ALL
    SELECT CAST(epoch AS BIGINT), 'report', total_psi_unat,
           CASE WHEN total_psi_unat < 100000 THEN 'stable'
                WHEN total_psi_unat < 250000 THEN 'drifting'
                ELSE 'shifted' END
    FROM reports
"""


@_register("streaming_psi_monitor_drain", _PSI_DRAIN_ORACLE)
def streaming_psi_monitor_drain(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING drift monitoring (r13): the declarative PSI monitor
    run per micro-batch inside a real readStream drain — epoch 0's
    commit pins the baseline version (action=baseline), every later
    epoch's run_monitor_job time-travels back to it and reports the
    PSI of the grown table against the pinned distribution, with the
    Siddiqi verdict. Fences: the append is version-fenced per epoch,
    the baseline artifact is self-fencing (a replayed epoch 0 sees
    meta and reports instead of re-pinning), the per-epoch output an
    idempotent overwrite. The oracle replays every epoch's cumulative
    PSI — bins anchored to the BASELINE's [min, max], as the monitor
    contract pins them."""
    from .declarative import run_monitor_job
    from .sources.delta import DeltaFixtureWriter, DeltaTable

    bounds = [(-1, 1000), (1000, 2000), (2000, 3000)]

    def build(tmp: str) -> None:
        import json as _json
        import os
        import shutil
        import tempfile
        import time
        from pathlib import Path as _Path

        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        (_Path(tmp) / "in").mkdir()
        t0 = time.time() - 1000
        for i, (lo, hi) in enumerate(bounds):
            stage = tempfile.mkdtemp(prefix="cdf_psi_part_")
            o.filter(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            (src,) = sorted(_Path(stage).glob("*.parquet"))
            dst = f"{tmp}/in/part-{i}.parquet"
            shutil.move(str(src), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
            shutil.rmtree(stage, ignore_errors=True)

        w = DeltaFixtureWriter(f"{tmp}/t", change_data_feed=True)

        def handle(batch_df, epoch_id: int) -> None:
            e = int(epoch_id)
            try:
                cur = DeltaTable(f"{tmp}/t").current_version()
            except Exception:  # noqa: BLE001 — table not created yet
                cur = -1
            if cur < e:
                w.append(batch_df, timestamp_ms=1000 * (e + 1))
            report = run_monitor_job(
                spark,
                {"table": f"{tmp}/t", "root": f"{tmp}/mon",
                 "column": "o_totalprice", "bins": 10},
            )
            # replay idempotence: a redelivered epoch 0 finds the
            # baseline already pinned (the monitor rightly reports
            # instead of re-pinning) — the OUTPUT row must still be the
            # baseline row, derived from the epoch, not from which
            # branch the at-least-once replay happened to take
            if e == 0:
                row = {"epoch": 0, "action": "baseline",
                       "total_psi_unat": None, "verdict": None}
            else:
                row = {
                    "epoch": e,
                    "action": report["action"],
                    "total_psi_unat": report.get("total_psi_unat"),
                    "verdict": report.get("verdict"),
                }
            out = _Path(f"{tmp}/out")
            out.mkdir(exist_ok=True)
            (out / f"epoch-{e}.json").write_text(_json.dumps(row))

        q = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(f"{tmp}/in")
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination()

    tmp = _session_fixture("streaming_psi_monitor", sf, build)
    import json as _json
    from pathlib import Path as _Path

    rows = [
        _json.loads(p.read_text())
        for p in sorted(_Path(f"{tmp}/out").glob("epoch-*.json"))
    ]
    return spark.createDataFrame(
        [
            (r["epoch"], r["action"], r["total_psi_unat"], r["verdict"])
            for r in rows
        ],
        "epoch long, action string, total_psi_unat long, verdict string",
    )


_PSI_Q_ORACLE = """
    WITH rv AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rv),
    rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM rv),
    edges AS (
      SELECT rk.v FROM rk, nn
      WHERE rk.rn IN (
        SELECT DISTINCT (i * nn.n + 9) // 10 FROM range(1, 10) t(i), nn
      )
    ),
    cv AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_totalprice IS NOT NULL
    ),
    rvals AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM rv GROUP BY v),
    cvals AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM cv GROUP BY v),
    rc AS (
      SELECT CAST((SELECT COUNT(*) FROM edges e WHERE e.v <= x.v) AS VARCHAR) AS bin,
             CAST(SUM(cnt) AS BIGINT) AS ref_n
      FROM rvals x GROUP BY bin
    ),
    cc AS (
      SELECT CAST((SELECT COUNT(*) FROM edges e WHERE e.v <= x.v) AS VARCHAR) AS bin,
             CAST(SUM(cnt) AS BIGINT) AS cur_n
      FROM cvals x GROUP BY bin
    ),
    bo AS (
      SELECT COALESCE(rc.bin, cc.bin) AS bin,
             COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
      FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS kb,
             CAST(SUM(ref_n) AS BIGINT) AS rt, CAST(SUM(cur_n) AS BIGINT) AS ct
      FROM bo
    )
    SELECT bin, ref_n, cur_n,
           CAST(round(
             (CAST(cur_n + 1 AS DOUBLE) / CAST(ct + kb AS DOUBLE)
              - CAST(ref_n + 1 AS DOUBLE) / CAST(rt + kb AS DOUBLE))
             * ln((CAST(cur_n + 1 AS DOUBLE) * CAST(rt + kb AS DOUBLE))
                  / (CAST(ref_n + 1 AS DOUBLE) * CAST(ct + kb AS DOUBLE)))
             * 1000000.0
           ) AS BIGINT) AS psi_unat
    FROM bo, tot
"""


@_register("psi_drift_quantile_orders", _PSI_Q_ORACLE)
def psi_drift_quantile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile-binned PSI (r13, `operators/drift.psi_drift` with
    method='quantile'): the textbook equal-POPULATION form — bins
    anchored at the reference's exact decile rank statistics (value at
    rank ceil(i*N/10), computed by the two-phase global-rank pattern,
    never a single-partition sort), bin(x) = number of edges <= x as
    pure comparisons against the collected edge values. Where
    equal-width bins dilute drift into the fat middle, equal-
    population bins weight every decile identically — the scorecard
    standard. Same Laplace-smoothed micro-nat terms; the oracle
    derives the identical edges by rank and replays the binning and
    every PSI term."""
    from .operators.drift import psi_drift

    o = _t(spark, sf, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    return psi_drift(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        "o_totalprice",
        bins=10,
        method="quantile",
    )


# ---------------------------------------------------------------------------
# Round 14: sliding windows, per-stratum drift, unigram-LM tokenizer
# ---------------------------------------------------------------------------


@_register(
    "sliding_window_agg",
    """
    WITH assigned AS (
      SELECT (epoch_ms(ts) // 1000 // 300) * 300 AS s0, event_type, value
      FROM events
    ),
    exploded AS (
      SELECT s0 AS start_s, event_type, value FROM assigned
      UNION ALL
      SELECT s0 - 300 AS start_s, event_type, value FROM assigned
    )
    SELECT start_s, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM exploded GROUP BY 1, 2
    """,
)
def sliding_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-interval time windows — the third standard window shape
    next to `tumbling_window_agg` and `session_window_agg`: Spark's
    native `F.window(ts, 10min, 5min)` assigns each event to BOTH
    overlapping windows (duration = 2 slides, epoch-aligned), then one
    combinable count/sum aggregation per (window, type). The overlap
    factor is duration/slide = 2x rows into the shuffle — the bounded,
    stated cost of smooth trailing aggregates at any corpus size. The
    oracle replays the assignment as a two-copy UNION of shifted
    tumbling buckets (exact for duration = 2 slides) and re-aggregates;
    the same frame runs unchanged under a watermarked streaming drain
    (tests/test_streaming.py::test_sliding_window_drain_matches_batch)."""
    e = _events(spark, sf)
    return (
        e.groupBy(F.window("ts", "600 seconds", "300 seconds"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("window.start").cast("long").alias("start_s"),
            "event_type",
            "n",
            "total_value",
        )
    )


_PSI_BY_ORACLE = """
    WITH v AS (
      SELECT source AS stratum, CAST(n_chars AS DOUBLE) AS x, doc_id
      FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
    ),
    b AS (
      SELECT stratum, MIN(x) AS lo, MAX(x) AS hi
      FROM v WHERE doc_id % 2 = 0
      GROUP BY stratum HAVING MAX(x) > MIN(x)
    ),
    rb AS (
      SELECT v.stratum,
             CAST(LEAST(GREATEST(CAST(floor((x - lo) * 8.0 / (hi - lo)) AS BIGINT), 0), 7) AS VARCHAR) AS bin
      FROM v JOIN b ON v.stratum = b.stratum WHERE doc_id % 2 = 0
    ),
    cb AS (
      SELECT v.stratum,
             CAST(LEAST(GREATEST(CAST(floor((x - lo) * 8.0 / (hi - lo)) AS BIGINT), 0), 7) AS VARCHAR) AS bin
      FROM v JOIN b ON v.stratum = b.stratum WHERE doc_id % 2 = 1
    ),
    rc AS (SELECT stratum, bin, CAST(COUNT(*) AS BIGINT) AS ref_n FROM rb GROUP BY stratum, bin),
    cc AS (SELECT stratum, bin, CAST(COUNT(*) AS BIGINT) AS cur_n FROM cb GROUP BY stratum, bin),
    bo AS (
      SELECT COALESCE(rc.stratum, cc.stratum) AS stratum,
             COALESCE(rc.bin, cc.bin) AS bin,
             COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
      FROM rc FULL OUTER JOIN cc ON rc.stratum = cc.stratum AND rc.bin = cc.bin
    ),
    tot AS (
      SELECT stratum, CAST(COUNT(*) AS BIGINT) AS kb,
             CAST(SUM(ref_n) AS BIGINT) AS rt, CAST(SUM(cur_n) AS BIGINT) AS ct
      FROM bo GROUP BY stratum
    )
    SELECT bo.stratum, bin, ref_n, cur_n,
           CAST(round(
             (CAST(cur_n + 1 AS DOUBLE) / CAST(ct + kb AS DOUBLE)
              - CAST(ref_n + 1 AS DOUBLE) / CAST(rt + kb AS DOUBLE))
             * ln((CAST(cur_n + 1 AS DOUBLE) * CAST(rt + kb AS DOUBLE))
                  / (CAST(ref_n + 1 AS DOUBLE) * CAST(ct + kb AS DOUBLE)))
             * 1000000.0
           ) AS BIGINT) AS psi_unat
    FROM bo JOIN tot ON bo.stratum = tot.stratum
"""


@_register("psi_drift_by_source", _PSI_BY_ORACLE)
def psi_drift_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum PSI drift (r14, `operators/drift.psi_drift_by`):
    one equal-width PSI per document `source` in a single pass —
    production monitors cut drift by language/domain/source because an
    aggregate PSI washes out a shift confined to one slice. Each
    stratum's reference half (even doc_id) defines its own [min, max]
    and deciles for the current half (odd doc_id); per-stratum Laplace
    smoothing over that stratum's observed bins; each term one
    fixed-order micro-nat double over exact integer counts. The two
    snapshots never join row-wise — each side reduces map-side to
    O(strata x bins) counts, and the bounds/smoothing totals are tiny
    broadcast joins (strictly more distributed than the single-PSI
    1-row collects). The oracle replays bounds, binning, merge and
    every term per stratum."""
    from .operators.drift import psi_drift_by

    d = _t(spark, sf, "documents")
    return psi_drift_by(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        by="source",
        bins=8,
    )


def _unigram_oracle(rounds=2, max_piece_len=4, max_word_len=12, seed_multi=48, keep_multi=32):
    """Chained-CTE replay of the unigram-LM training loop."""
    P = max_piece_len
    M = max_word_len
    parts = [
        f"""w AS MATERIALIZED (
      SELECT word, CAST(cnt AS BIGINT) AS c, length(word) AS len FROM (
        SELECT t.tok AS word, COUNT(*) AS cnt
        FROM documents, UNNEST(str_split(text, ' ')) AS t(tok)
        WHERE regexp_matches(t.tok, '^[a-z0-9]+$') AND length(t.tok) <= {M}
        GROUP BY t.tok
      )
    )""",
        f"""seedcnt AS MATERIALIZED (
      SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt FROM (
        SELECT substr(word, ss.s, kk.k) AS piece, c
        FROM w
        CROSS JOIN (SELECT UNNEST(generate_series(1, {P})) AS k) kk
        CROSS JOIN (SELECT UNNEST(generate_series(1, {M})) AS s) ss
        WHERE ss.s + kk.k - 1 <= len
      ) GROUP BY piece
    )""",
        """chars AS MATERIALIZED (SELECT piece FROM seedcnt WHERE length(piece) = 1)""",
        f"""sel0 AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM seedcnt WHERE length(piece) >= 2
      ) WHERE rn <= {seed_multi}
      UNION ALL
      SELECT piece, cnt FROM seedcnt WHERE length(piece) = 1
    )""",
        """v0 AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(ln(CAST(t.total + t.k AS DOUBLE) / CAST(cnt + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS cost_unat
      FROM sel0, (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS k FROM sel0) t
    )""",
    ]
    for r in range(1, rounds + 1):
        v = f"v{r-1}"
        parts.append(
            f"d{r}_0 AS (SELECT word, c, len, CAST(0 AS BIGINT) AS cost, '' AS seg FROM w)"
        )
        for j in range(1, M + 1):
            unions = []
            for k in range(1, min(P, j) + 1):
                seg = (
                    "v.piece" if j == k
                    else "d.seg || ' ' || v.piece"
                )
                unions.append(
                    f"""SELECT d.word, d.c, d.len, d.cost + v.cost_unat AS cost,
               {seg} AS seg
        FROM d{r}_{j-k} d JOIN {v} v ON v.piece = substr(d.word, {j-k+1}, {k})
        WHERE d.len >= {j}"""
                )
            u = "\n        UNION ALL\n        ".join(unions)
            parts.append(
                f"""d{r}_{j} AS MATERIALIZED (
      SELECT word, c, len, cost, seg FROM (
        SELECT word, c, len, cost, seg,
               row_number() OVER (PARTITION BY word ORDER BY cost, seg) AS rn
        FROM (
        {u}
        )
      ) WHERE rn = 1
    )"""
            )
        finals = "\n        UNION ALL\n        ".join(
            f"SELECT c, seg FROM d{r}_{j} WHERE len = {j}" for j in range(1, M + 1)
        )
        parts.append(
            f"""cnt{r} AS MATERIALIZED (
      SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt FROM (
        SELECT c, UNNEST(str_split(seg, ' ')) AS piece FROM (
        {finals}
        )
      ) GROUP BY piece
    )"""
        )
        parts.append(
            f"""sel{r} AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM cnt{r} WHERE length(piece) >= 2
      ) WHERE rn <= {keep_multi}
      UNION ALL
      SELECT ch.piece, COALESCE(c2.cnt, 0) AS cnt
      FROM chars ch LEFT JOIN cnt{r} c2 ON c2.piece = ch.piece
    )"""
        )
        parts.append(
            f"""v{r} AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(ln(CAST(t.total + t.k AS DOUBLE) / CAST(cnt + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS cost_unat
      FROM sel{r}, (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS k FROM sel{r}) t
    )"""
        )
    return "WITH " + ",\n    ".join(parts) + f"\n    SELECT piece, cnt, cost_unat FROM v{rounds}"

_UNIGRAM_ORACLE = _unigram_oracle()


@_register("unigram_lm_tokenizer", _UNIGRAM_ORACLE)
def unigram_lm_tokenizer(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) TOKENIZER TRAINING (r14,
    `operators/unigram.learn_unigram`, Kudo 2018 hard-EM): the trainer
    Llama/T5-class pipelines ship, completing the tokenizer family
    next to `bpe_learn_merges`. Seed = every corpus character + the 48
    most frequent substrings (len 2-4); two EM rounds of Viterbi
    segmentation (integer micro-nat piece costs, (cost, segmentation
    string) tie-break) -> usage re-count -> shrink to chars + top-32.
    The corpus collapses to the distinct-word table once; each E-step
    is a zero-shuffle mapInPandas kernel with the O(model) cost table
    broadcast; each M-step one combinable count agg + a distributed
    top-k. The oracle re-trains the WHOLE loop in SQL — seed counts,
    selection, costs, an unrolled per-position Viterbi DP (12 stages,
    row_number tie-break), re-estimation and pruning — so a wrong
    count, tie-break or DP transition at any stage hash-mismatches.
    Output: the final model (piece, cnt, cost_unat)."""
    from .operators.unigram import learn_unigram

    return learn_unigram(
        _t(spark, sf, "documents"),
        rounds=2,
        max_piece_len=4,
        max_word_len=12,
        seed_multi=48,
        keep_multi=32,
    )
