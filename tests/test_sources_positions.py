"""JDBC plan rendering, REST pagination, positions, preview."""

import pytest

from cdf_spark.expressions.ast import Col
from cdf_spark.plans.scan import ScanRequest
from cdf_spark.positions import (
    BinlogPosition,
    CompositePosition,
    CursorPosition,
    FileManifest,
    LsnPosition,
    PageToken,
    PositionMergeError,
    aggregate_positions,
)
from cdf_spark.preview import PreviewLimits, SystemSqlError, preview, system_sql
from cdf_spark.sources.base import CursorSpec, ResourceDescriptor
from cdf_spark.sources.files import FileResource
from cdf_spark.sources.jdbc import JdbcPartitionSpec, JdbcResource, render_sql_predicate
from cdf_spark.sources.rest import Pagination, RestResource


# --- JDBC -------------------------------------------------------------------


def _jdbc():
    return JdbcResource(
        ResourceDescriptor("orders", cursor=CursorSpec("id")),
        url="jdbc:postgresql://db/x",
        table="public.orders",
        partitioning=JdbcPartitionSpec("id", 0, 1_000_000, 16),
    )


def test_jdbc_exact_pushdown_and_query_rendering():
    res = _jdbc()
    plan = res.negotiate(
        ScanRequest(
            "orders",
            projection=["id", "amount"],
            predicates=[Col("amount") > 10.5, Col("status") == "open"],
            limit=100,
            cursor_field="id",
            cursor_resume_value=500,
        )
    )
    # exact fidelity: no engine residuals
    assert plan.residual == []
    assert plan.limit == 100
    sql = res.render_query(plan)
    assert sql == (
        'SELECT "id", "amount" FROM public.orders '
        'WHERE ("amount" > 10.5) AND ("status" = \'open\') LIMIT 100'
    )


def test_jdbc_cursor_subsumption_renders_into_query():
    res = _jdbc()
    plan = res.negotiate(
        ScanRequest(
            "orders",
            predicates=[Col("id") > 500],
            cursor_field="id",
            cursor_resume_value=500,
        )
    )
    assert plan.pushed[0].subsumed_by_position  # JDBC is position-enforced
    assert '("id" > 500)' in res.render_query(plan)


def test_sql_injection_safe_literals():
    rendered = render_sql_predicate(Col("name") == "O'Brien; DROP TABLE x")
    assert rendered == "(\"name\" = 'O''Brien; DROP TABLE x')"


# --- REST -------------------------------------------------------------------


def test_rest_page_pagination_and_cursor_param(spark):
    calls = []

    def fake(url, params):
        calls.append(dict(params))
        page = int(params["page"])
        if page > 3:
            return {"items": []}
        return {"items": [{"id": page * 10 + i, "v": f"p{page}"} for i in range(2)]}

    res = RestResource(
        ResourceDescriptor("feed", schema={"id": "int64", "v": "utf8"}, cursor=CursorSpec("id")),
        url="https://api.example/items",
        pagination=Pagination(strategy="page", param="page", start=1, size_param="limit", page_size=2),
        fetcher=fake,
    )
    df, last_pos = res.read(spark, cursor_resume=5)
    assert df.count() == 6
    assert last_pos == 3
    # cursor pushed as query param on every page
    assert all(c.get("id_gt") == "5" for c in calls)
    assert calls[0]["limit"] == "2"


def test_rest_cursor_token_pagination(spark):
    def fake(url, params):
        tok = params.get("cursor", "t0")
        data = {
            "t0": {"items": [{"id": 1}], "next": "t1"},
            "t1": {"items": [{"id": 2}], "next": None},
        }
        return data[tok]

    res = RestResource(
        ResourceDescriptor("feed", schema={"id": "int64"}),
        url="u",
        pagination=Pagination(strategy="cursor", param="cursor", start="t0"),
        fetcher=fake,
    )
    df, last = res.read(spark)
    assert sorted(r.id for r in df.collect()) == [1, 2]
    assert last == "t1"


# --- positions --------------------------------------------------------------


def test_position_algebra():
    assert aggregate_positions(
        [CursorPosition("id", 5), CursorPosition("id", 9), CursorPosition("id", 2)]
    ).value == 9
    assert aggregate_positions([LsnPosition("0/A"), LsnPosition("1/5")]).lsn == "1/5"
    assert aggregate_positions(
        [BinlogPosition("bin.000002", 10), BinlogPosition("bin.000001", 999)]
    ).file == "bin.000002"
    m = aggregate_positions(
        [FileManifest({"a", "b"}), FileManifest({"b", "c"})]
    )
    assert m.completed == {"a", "b", "c"} and m.contains("c")
    assert aggregate_positions([PageToken("x", 3), PageToken("y", 7)]).token == "y"

    comp = aggregate_positions(
        [
            CompositePosition({"cur": CursorPosition("id", 5), "files": FileManifest({"a"})}),
            CompositePosition({"cur": CursorPosition("id", 8), "files": FileManifest({"b"})}),
        ]
    )
    assert comp.parts["cur"].value == 8
    assert comp.parts["files"].completed == {"a", "b"}

    with pytest.raises(PositionMergeError):
        aggregate_positions([CursorPosition("id", 1), PageToken("t", 1)])


# --- preview + system sql ---------------------------------------------------


def test_preview_limits_and_evidence(spark, sf_dir):
    res = FileResource(ResourceDescriptor("orders", primary_key=["o_orderkey"]), f"{sf_dir}/orders.parquet")
    pr = preview(spark, res, limits=PreviewLimits(max_rows=50))
    assert pr.rows_returned == 50 and pr.limit_hit
    assert pr.evidence["plan_hash"].startswith("sha256:")
    assert pr.df.count() == 50

    sampled = preview(spark, res, limits=PreviewLimits(max_rows=10_000, sample_keep=10))
    assert not sampled.limit_hit
    assert 0 < sampled.rows_returned < 400  # ~10% of 1500


def test_system_sql(spark, tmp_path, orders):
    from cdf_spark.package import CheckpointLedger, PackageBuilder
    from cdf_spark.package.ledger import ParquetDestination
    from cdf_spark.sources.base import WriteDisposition

    builder = PackageBuilder(tmp_path / "pkgs", "orders")
    pkg = builder.build(admitted=orders.limit(10))
    dest = ParquetDestination(tmp_path / "dest")
    ledger = CheckpointLedger(tmp_path / "ledger")
    receipt = dest.verify(spark, dest.commit(spark, pkg, WriteDisposition.REPLACE), pkg)
    ledger.record_receipt(receipt)
    ledger.advance("orders", receipt, {"o_orderkey": 9})

    df = system_sql(
        spark,
        tmp_path / "ledger",
        tmp_path / "pkgs",
        "SELECT c.resource_id, r.rows_written FROM checkpoints c JOIN receipts r ON c.receipt_id = r.receipt_id",
    )
    row = df.collect()[0]
    assert row.resource_id == "orders" and row.rows_written == 10

    pkgs = system_sql(spark, tmp_path / "ledger", tmp_path / "pkgs", "SELECT package_id, rows_admitted FROM packages")
    assert pkgs.collect()[0].rows_admitted == 10

    with pytest.raises(SystemSqlError):
        system_sql(spark, tmp_path / "ledger", None, "DELETE FROM checkpoints")
    with pytest.raises(SystemSqlError):
        system_sql(spark, tmp_path / "ledger", None, "SELECT 1; DROP TABLE checkpoints")


# --- python generator resources ---------------------------------------------


def test_python_resource_generator(spark):
    from cdf_spark.sources import python_resource

    @python_resource("seq_feed", schema={"id": "int64", "v": "utf8"}, cursor="id", cursor_initial=None)
    def feed(n=5):
        for i in range(n):
            yield {"id": i, "v": f"row{i}"}

    df = feed.read(spark, n=6)
    assert df.count() == 6
    assert dict(df.dtypes) == {"id": "bigint", "v": "string"}

    # incremental: cursor_resume filters previously-seen rows
    df2 = feed.read(spark, cursor_resume=3, n=6)
    assert sorted(r.id for r in df2.collect()) == [4, 5]

    # the decorated object still iterates like a plain generator
    assert [r["id"] for r in feed(n=2)] == [0, 1]
