"""Policy-driven maintenance orchestration: plan from metadata only,
execute through the format ops, converge to an empty plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdf_spark.package.maintenance import (
    MaintenancePolicy,
    plan_maintenance,
    run_maintenance,
)
from cdf_spark.plans.layout import scan_file_key
from cdf_spark.sources.delta import DeltaFixtureWriter, DeltaTable
from cdf_spark.sources.hudi import HudiFixtureWriter, HudiTable
from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable


def test_unknown_layout_raises(tmp_path):
    with pytest.raises(ValueError):
        plan_maintenance(tmp_path)


def test_iceberg_plan_run_converges(spark, tmp_path, orders):
    w = IcebergFixtureWriter(tmp_path / "t", seed=3)
    o = orders.select("o_orderkey", "o_totalprice")
    for i in range(5):
        w.append(o.offset(20 * i).limit(20), timestamp_ms=1_000 + i)
    pol = MaintenancePolicy(small_file_bytes=1 << 30, min_small_files=4, max_snapshots=3)
    plan = plan_maintenance(tmp_path / "t", pol)
    acts = {a.action for a in plan}
    assert "rewrite_small_files" in acts and "expire_snapshots" in acts
    out = run_maintenance(spark, tmp_path / "t", pol)
    assert set(out["results"]) >= {"rewrite_small_files", "expire_snapshots"}
    t = IcebergTable(tmp_path / "t")
    assert t.read(spark).count() == 100  # content preserved
    # converged: the next plan is empty (merged file is one per
    # partition; snapshots expired to the cap)
    again = plan_maintenance(tmp_path / "t", pol)
    assert again == []
    # and running an empty plan mutates nothing
    v_before = len(t.snapshots())
    run_maintenance(spark, tmp_path / "t", pol)
    assert len(IcebergTable(tmp_path / "t").snapshots()) == v_before


def test_delta_plan_run_converges(spark, tmp_path, orders):
    w = DeltaFixtureWriter(tmp_path / "t")
    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    for i in range(4):
        w.append(o.offset(25 * i).limit(25), timestamp_ms=1_000 + i)
    keys = [r.o_orderkey for r in o.limit(3).collect()]
    w.delete_where(spark, f"o_orderkey in ({','.join(map(str, keys))})", timestamp_ms=2_000)
    pol = MaintenancePolicy(
        small_file_bytes=1 << 30, min_small_files=4, retention_ms=0, max_snapshots=3
    )
    plan = plan_maintenance(tmp_path / "t", pol)
    acts = {a.action for a in plan}
    assert "optimize_small_files" in acts
    assert "checkpoint_and_clean_log" in acts
    dv_evidence = [a for a in plan if a.action == "optimize_small_files"][0].evidence
    assert dv_evidence["dv_files"] >= 1
    out = run_maintenance(spark, tmp_path / "t", pol)
    assert "optimize_small_files" in out["results"]
    t = DeltaTable(tmp_path / "t")
    assert t.read(spark).count() == 97
    assert t.metadata_count() == 97  # DV resolved, stats intact
    # second cycle may still owe a vacuum for files the optimize
    # tombstoned; after it the plan is empty
    run_maintenance(spark, tmp_path / "t", pol)
    assert plan_maintenance(tmp_path / "t", pol) == []
    assert DeltaTable(tmp_path / "t").read(spark).count() == 97


def test_hudi_plan_run_converges(spark, tmp_path, orders):
    w = HudiFixtureWriter(tmp_path / "t")
    o = orders.select("o_orderkey", "o_totalprice")
    i1 = w.commit(o.limit(10))
    fid = HudiTable(tmp_path / "t")._written_files(i1)[0][0]
    for j in range(3):
        w.commit(o.offset(10 * (j + 1)).limit(10), file_id=fid)
    pol = MaintenancePolicy(hudi_retain_commits=2)
    plan = plan_maintenance(tmp_path / "t", pol)
    assert [a.action for a in plan] == ["clean"]
    out = run_maintenance(spark, tmp_path / "t", pol)
    assert len(out["results"]["clean"]["deleted"]) == 2
    assert HudiTable(tmp_path / "t").read(spark).count() == 10
    assert plan_maintenance(tmp_path / "t", pol) == []


# ---------------------------------------------------------------------------
# Declarative auto-maintenance


def test_declarative_maintenance_runs_after_load(spark, tmp_path, orders):
    """[destination.maintenance] in TOML: after the load commits, the
    policy orchestrator bin-packs the accumulated small files and the
    report lands as a workspace evidence artifact."""
    import json

    from cdf_spark.declarative import Workspace
    from cdf_spark.sources.iceberg import IcebergTable

    o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    src = tmp_path / "src.parquet"
    o.filter("o_orderkey > 0 AND o_orderkey <= 300").write.parquet(str(src))
    decl = tmp_path / "cdf.toml"
    dest_path = tmp_path / "ws" / "warehouse" / "ice_m"
    decl.write_text(f"""
[resources.ice_m]
primary_key = ["o_orderkey"]

[resources.ice_m.source]
kind = "files"
path = "{src}"
format = "parquet"

[resources.ice_m.destination]
kind = "iceberg"

[resources.ice_m.destination.maintenance]
min_small_files = 2
max_snapshots = 5
""")
    ws = Workspace(tmp_path / "ws")
    compiled = ws.compile_file(decl)["ice_m"]
    # two APPEND runs accumulate per-run files (300 rows each);
    # maintenance after run 2 bin-packs them into one
    ws.run(spark, compiled)
    ws.run(spark, compiled)
    report = json.loads((tmp_path / "ws" / "maintenance" / "ice_m.json").read_text())
    assert any(p["action"] == "rewrite_small_files" for p in report["planned"])
    t = IcebergTable(dest_path)
    assert len(t.files_for_snapshot(t.current_snapshot_id())) == 1
    assert t.read(spark).count() == 600


def test_declarative_maintenance_rejects_bad_kind(tmp_path):
    from cdf_spark.declarative import DeclarationError, Workspace

    decl = tmp_path / "cdf.toml"
    decl.write_text("""
[resources.bad]
source = { kind = "files", path = "/tmp/x", format = "parquet" }
destination = { kind = "parquet", maintenance = { min_small_files = 2 } }
""")
    ws = Workspace(tmp_path / "ws")
    with pytest.raises(DeclarationError):
        ws.compile_file(decl)


def test_declarative_maintenance_rejects_unknown_field(spark, tmp_path, orders):
    from cdf_spark.declarative import DeclarationError, Workspace

    src = tmp_path / "s.parquet"
    orders.select("o_orderkey").limit(5).write.parquet(str(src))
    decl = tmp_path / "cdf.toml"
    decl.write_text(f"""
[resources.x]
source = {{ kind = "files", path = "{src}", format = "parquet" }}
destination = {{ kind = "iceberg", maintenance = {{ frobnicate = 3 }} }}
""")
    ws = Workspace(tmp_path / "ws")
    c = ws.compile_file(decl)["x"]
    with pytest.raises(DeclarationError):
        ws.run(spark, c)


def test_streaming_pipeline_maintains_every_n_epochs(spark, tmp_path, orders):
    """maintenance_every_epochs on a drained stream into an Iceberg
    destination: each micro-batch lands files; after every 2nd
    verified epoch the orchestrator bin-packs, so the drained table
    ends compacted without any external scheduler — and the drained
    content still equals the source."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from cdf_spark.package.iceberg_dest import IcebergDestination
    from cdf_spark.package.maintenance import MaintenancePolicy
    from cdf_spark.sources.base import ResourceDescriptor
    from cdf_spark.sources.iceberg import IcebergTable
    from cdf_spark.streaming import StreamingLoadPipeline

    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    schema = T.StructType(
        [T.StructField("o_orderkey", T.LongType()), T.StructField("o_totalprice", T.DoubleType())]
    )
    (tmp_path / "in").mkdir()
    for i in range(4):
        stage = tempfile.mkdtemp()
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (src,) = sorted(__import__("pathlib").Path(stage).glob("*.parquet"))
        shutil.move(str(src), str(tmp_path / "in" / f"p{i}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)
    dest = IcebergDestination(tmp_path / "ice")
    pipe = StreamingLoadPipeline(
        descriptor=ResourceDescriptor(resource_id="stream_maint"),
        source_path=str(tmp_path / "in"),
        schema=schema,
        destination=dest,
        package_root=str(tmp_path / "pkgs"),
        ledger_root=str(tmp_path / "ledger"),
        reader_options={"maxFilesPerTrigger": 1},
        maintenance_every_epochs=2,
        maintenance_policy=MaintenancePolicy(
            small_file_bytes=1 << 30, min_small_files=2, max_snapshots=100
        ),
    )
    pipe.run(spark, checkpoint_dir=str(tmp_path / "ck"))
    assert len([e for e in pipe.epochs if e.receipt_verified]) == 4
    assert len(pipe.maintenance_reports) == 2
    assert any(
        "rewrite_small_files" in r["results"] for r in pipe.maintenance_reports
    )
    t = IcebergTable(tmp_path / "ice")
    assert t.read(spark).count() == o.count()
    # the last maintenance cycle left the live set compacted
    assert len(t.files_for_snapshot(t.current_snapshot_id())) <= 3


def test_pos_delete_compaction_planned_and_converges(spark, tmp_path, orders):
    """4+ accumulated positional-delete files make the
    rewrite_position_deletes action due; running it consolidates to
    one file and the re-plan no longer includes the action
    (convergence on a schedule)."""
    from pyspark.sql import functions as F

    from cdf_spark.package.maintenance import (
        MaintenancePolicy,
        plan_maintenance,
        run_maintenance,
    )
    from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable

    o = orders.select("o_orderkey", "o_totalprice").filter("o_orderkey > 0")
    w = IcebergFixtureWriter(tmp_path / "t", seed=81)
    sid = w.append(o.filter("o_orderkey <= 60"), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    located = (
        t.read(spark, snapshot_id=sid)
        .withColumn("_f", scan_file_key())
        .withColumn("_p", F.col("_metadata.row_index"))
        .filter(F.col("o_orderkey") <= 8)
        .select("_f", "_p", "o_orderkey")
        .collect()
    )
    for i, r in enumerate(located[:4]):
        w.delete_positions([(r._f, r._p)], timestamp_ms=2_000 + i)

    pol = MaintenancePolicy(max_pos_delete_files=4, max_snapshots=50)
    plan = plan_maintenance(tmp_path / "t", pol)
    assert any(a.action == "rewrite_position_deletes" for a in plan)
    before = IcebergTable(tmp_path / "t").read(spark).count()
    out = run_maintenance(spark, tmp_path / "t", pol)
    assert out["results"]["rewrite_position_deletes"]["delete_files_after"] == 1
    assert IcebergTable(tmp_path / "t").read(spark).count() == before
    # converged: the action is no longer due
    assert not any(
        a.action == "rewrite_position_deletes"
        for a in plan_maintenance(tmp_path / "t", pol)
    )


def test_mor_compaction_planned_and_converges(spark, tmp_path, orders):
    """r10: the autopilot plans MoR compaction once enough file groups
    carry pending logs, executes it through the timeline writer, and a
    re-plan finds nothing due — the MoR read-debt collector."""
    from cdf_spark.package.maintenance import (
        MaintenancePolicy,
        plan_maintenance,
        run_maintenance,
    )
    from cdf_spark.sources.hudi_mor import HudiMorFixtureWriter, HudiMorTable

    o = orders.select("o_orderkey", "o_totalprice")
    w = HudiMorFixtureWriter(tmp_path / "t", record_key="o_orderkey", n_buckets=4)
    w.insert(o.filter("o_orderkey <= 800"))
    # dirty all 4 buckets with log appends
    w.upsert(o.filter("o_orderkey <= 200").withColumn("o_totalprice", F.lit(-1.0)))
    pol = MaintenancePolicy(max_dirty_mor_groups=2)
    plan = plan_maintenance(tmp_path / "t", pol)
    assert any(a.action == "mor_compact" for a in plan)
    before = HudiMorTable(tmp_path / "t").snapshot(spark).count()
    res = run_maintenance(spark, tmp_path / "t", pol)
    assert res["results"]["mor_compact"]["instant"] is not None
    t = HudiMorTable(tmp_path / "t")
    assert all(not logs for _f, _p, _b, logs in t.file_slices(t.latest_instant()))
    assert t.snapshot(spark).count() == before
    assert not any(
        a.action == "mor_compact" for a in plan_maintenance(tmp_path / "t", pol)
    )


def test_hudi_cluster_planned_and_converges(spark, tmp_path, orders):
    """r10: the autopilot plans Hudi CoW CLUSTERING when enough small
    file groups share a partition, executes it as a partial
    replacecommit (only the small groups replaced — big groups stay
    live untouched), and a re-plan finds nothing due."""
    from cdf_spark.package.maintenance import (
        MaintenancePolicy,
        plan_maintenance,
        run_maintenance,
    )

    o = orders.select("o_orderkey", "o_totalprice")
    w = HudiFixtureWriter(tmp_path / "t")
    for lo in range(0, 400, 100):  # 4 small single-group commits
        w.commit(o.filter(f"o_orderkey > {lo} and o_orderkey <= {lo + 100}"))
    t = HudiTable(tmp_path / "t")
    pre_groups = t.live_file_groups()
    assert len(pre_groups) == 4
    pol = MaintenancePolicy(small_file_bytes=1 << 30, min_small_files=3)
    plan = plan_maintenance(tmp_path / "t", pol)
    assert any(a.action == "hudi_cluster" for a in plan)
    before = t.read(spark).count()
    res = run_maintenance(spark, tmp_path / "t", pol)
    assert res["results"]["hudi_cluster"]["clustered_groups"] == 4
    t2 = HudiTable(tmp_path / "t")
    post = t2.live_file_groups()
    assert len(post) < 4  # merged toward target size
    assert t2.read(spark).count() == before  # no logical change
    # time travel to the pre-cluster instant still resolves
    first = t2.instants()[0]
    assert t2.read(spark, instant=first).count() == o.filter(
        "o_orderkey > 0 and o_orderkey <= 100"
    ).count()
    assert not any(
        a.action == "hudi_cluster" for a in plan_maintenance(tmp_path / "t", pol)
    )


def test_hudi_cluster_partial_keeps_big_groups(spark, tmp_path, orders):
    """Clustering replaces ONLY the small groups: a big group keeps its
    original live file byte-identical."""
    from cdf_spark.sources.hudi import HudiFixtureWriter as W

    o = orders.select("o_orderkey", "o_totalprice")
    w = W(tmp_path / "t")
    w.commit(o.filter("o_orderkey <= 1200"))  # the "big" group
    w.commit(o.filter("o_orderkey > 1200 and o_orderkey <= 1250"))
    w.commit(o.filter("o_orderkey > 1250 and o_orderkey <= 1300"))
    t = HudiTable(tmp_path / "t")
    big_path = max(
        ((p, __import__("pathlib").Path(p).stat().st_size) for _f, _pt, p in t.live_file_groups()),
        key=lambda x: x[1],
    )[0]
    big_size = __import__("pathlib").Path(big_path).stat().st_size
    res = w.cluster_small_file_groups(
        spark, small_bytes=big_size, target_bytes=1 << 30, min_small_groups=2
    )
    assert res["clustered_groups"] == 2 and res["new_groups"] == 1
    t2 = HudiTable(tmp_path / "t")
    post_paths = [p for _f, _pt, p in t2.live_file_groups()]
    assert big_path in post_paths  # untouched group still live, same file
    assert t2.read(spark).count() == o.filter("o_orderkey <= 1300").count()
