"""Round-10 changelog scale fixes (r8 verdict items 1-2).

1. Positional-delete changelog preimages read ONLY the data files the
   delete files name (`read(..., _files=victims)`) — O(files-with-
   deletes), not O(parent snapshot).
2. Equality-delete changelog preimages prune parent files by manifest
   column bounds against the delete keys' [min, max].
3. CoW overwrite/delete commits derive net changes from the
   parent-vs-current live-set diff instead of raising.

The pruning assertions spy on `IcebergTable.read` and record the
`_files` argument of every parent-state call — the same in-query
assertion pattern the repo's pruning tests already use.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cdf_spark.plans.layout import scan_file_key
from cdf_spark.sources.iceberg import IcebergFixtureWriter, IcebergTable


def _spy_read(monkeypatch):
    calls: list[dict] = []
    orig = IcebergTable.read

    def wrapper(self, spark, *args, **kwargs):
        calls.append({"snapshot_id": kwargs.get("snapshot_id"), "_files": kwargs.get("_files")})
        return orig(self, spark, *args, **kwargs)

    monkeypatch.setattr(IcebergTable, "read", wrapper)
    return calls


def _write_segment(df) -> list[str]:
    seg = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(seg)
    return sorted(str(p) for p in Path(seg).glob("*.parquet")), seg


def test_pos_delete_preimage_reads_only_named_files(spark, tmp_path, orders, monkeypatch):
    """Five data files at the parent; a MERGE whose delete file names
    rows in exactly ONE of them. The changelog's parent read must be
    pruned to that one file."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=101)
    for lo in range(0, 500, 100):  # 5 separate append commits -> 5 files
        w.append(
            o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= lo + 100)),
            timestamp_ms=1_000 + lo,
        )
    t = IcebergTable(tmp_path / "t")
    s_parent = t.current_snapshot_id()
    # victims: rows 150-160 — live in exactly one parent data file
    located = (
        t.read(spark, snapshot_id=s_parent)
        .withColumn("_f", scan_file_key())
        .withColumn("_p", F.col("_metadata.row_index"))
        .filter((F.col("o_orderkey") > 150) & (F.col("o_orderkey") <= 160))
        .select("_f", "_p")
        .collect()
    )
    victim_files = {r._f for r in located}
    assert len(victim_files) == 1
    batch = o.filter(
        (F.col("o_orderkey") > 150) & (F.col("o_orderkey") <= 160)
    ).withColumn("o_totalprice", F.lit(-1.0))
    segs, segdir = _write_segment(batch)
    try:
        w.merge_files_pos(segs, [(r._f, r._p) for r in located], timestamp_ms=9_000)
    finally:
        shutil.rmtree(segdir, ignore_errors=True)

    t2 = IcebergTable(tmp_path / "t")
    calls = _spy_read(monkeypatch)
    ch = t2.changelog_scan(spark, from_snapshot_id=s_parent)
    dels = {r.o_orderkey for r in ch.filter(F.col("_change_type") == "delete").collect()}
    assert dels == set(range(151, 161)) & {
        r.o_orderkey for r in o.collect()
    }  # correct preimages
    parent_calls = [c for c in calls if c["snapshot_id"] == s_parent]
    assert parent_calls, "changelog never read the parent snapshot"
    for c in parent_calls:
        assert c["_files"] is not None, "parent preimage read was NOT pruned"
        assert set(c["_files"]) == victim_files  # exactly the named file


def test_eq_delete_preimage_pruned_by_bounds(spark, tmp_path, orders, monkeypatch):
    """Five parent files with disjoint key ranges; an equality delete
    whose keys fall in one range. Manifest bounds must prune the
    parent read to overlapping files only."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=102)
    for lo in range(0, 500, 100):
        w.append(
            o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= lo + 100)),
            timestamp_ms=1_000 + lo,
        )
    t = IcebergTable(tmp_path / "t")
    s_parent = t.current_snapshot_id()
    keys = [
        {"o_orderkey": r.o_orderkey}
        for r in o.filter(
            (F.col("o_orderkey") > 250) & (F.col("o_orderkey") <= 260)
        ).collect()
    ]
    assert keys
    w.delete_equality(keys, ["o_orderkey"], timestamp_ms=9_000)

    t2 = IcebergTable(tmp_path / "t")
    calls = _spy_read(monkeypatch)
    ch = t2.changelog_scan(spark, from_snapshot_id=s_parent)
    dels = {r.o_orderkey for r in ch.filter(F.col("_change_type") == "delete").collect()}
    assert dels == {k["o_orderkey"] for k in keys}
    parent_calls = [c for c in calls if c["snapshot_id"] == s_parent]
    assert parent_calls
    n_parent_files = len(t2.files_for_snapshot(s_parent)) if hasattr(
        t2, "files_for_snapshot"
    ) else 5
    for c in parent_calls:
        assert c["_files"] is not None, "eq preimage read was NOT bounds-pruned"
        assert 1 <= len(c["_files"]) < n_parent_files


def test_cow_delete_commit_derives_changes(spark, tmp_path, orders):
    """A CoW DELETE (overwrite that only removes files) contributes its
    removed files' parent rows as deletes — and reads only those
    files."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=103)
    w.append(o.filter(F.col("o_orderkey") <= 100), timestamp_ms=1_000)
    w.append(
        o.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)),
        timestamp_ms=2_000,
    )
    t = IcebergTable(tmp_path / "t")
    s0 = t.current_snapshot_id()
    # CoW overwrite retaining only the first batch: second file removed
    w.overwrite(o.filter(F.col("o_orderkey") <= 100), timestamp_ms=3_000)
    t2 = IcebergTable(tmp_path / "t")
    ch = t2.changelog_scan(spark, from_snapshot_id=s0)
    got = {(r.o_orderkey, r._change_type) for r in ch.collect()}
    want = {
        (r.o_orderkey, "delete")
        for r in o.filter(
            (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
        ).collect()
    }
    assert got == want


def test_cow_overwrite_schema_matches_snapshot_reads(spark, tmp_path, orders):
    """Net-change rows carry the same columns as snapshot reads plus
    the change metadata."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=104)
    w.append(o.filter(F.col("o_orderkey") <= 50), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    s0 = t.current_snapshot_id()
    w.overwrite(
        o.filter(F.col("o_orderkey") <= 50).withColumn("o_totalprice", F.lit(-1.0)),
        timestamp_ms=2_000,
    )
    t2 = IcebergTable(tmp_path / "t")
    ch = t2.changelog_scan(spark, from_snapshot_id=s0)
    assert set(ch.columns) == {"o_orderkey", "o_totalprice", "_change_type", "_snapshot_id"}
    n = o.filter(F.col("o_orderkey") <= 50).count()
    assert ch.filter(F.col("_change_type") == "delete").count() == n
    assert ch.filter(F.col("_change_type") == "insert").count() == n


def test_unknown_cow_mode_raises(spark, tmp_path, orders):
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=105)
    w.append(o.limit(10), timestamp_ms=1_000)
    t = IcebergTable(tmp_path / "t")
    s0 = t.current_snapshot_id()
    w.overwrite(o.limit(5), timestamp_ms=2_000)
    t2 = IcebergTable(tmp_path / "t")
    with pytest.raises(Exception, match="cow_mode"):
        t2.changelog_scan(spark, from_snapshot_id=s0, cow_mode="bogus").count()


def test_changelog_between_timestamps(spark, tmp_path, orders):
    """Timestamp bounds resolve like time travel (latest snapshot <=
    bound); a pre-history start means table start; an empty resolved
    range errors."""
    o = orders.select("o_orderkey", "o_totalprice")
    w = IcebergFixtureWriter(tmp_path / "t", seed=106)
    w.append(o.filter(F.col("o_orderkey") <= 100), timestamp_ms=1_000)
    w.append(
        o.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)),
        timestamp_ms=2_000,
    )
    w.append(
        o.filter((F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 300)),
        timestamp_ms=3_000,
    )
    t = IcebergTable(tmp_path / "t")
    n = lambda lo, hi: o.filter(
        (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
    ).count()
    # start resolves to the ts=1000 snapshot -> changes after it
    assert t.changelog_scan_between_timestamps(spark, 1_500).count() == n(100, 300)
    # bounded window: (ts<=1000, ts<=2000] -> only the second commit
    assert t.changelog_scan_between_timestamps(spark, 1_000, 2_500).count() == n(100, 200)
    # pre-history start replays from table start
    assert t.changelog_scan_between_timestamps(spark, 10).count() == o.filter(
        F.col("o_orderkey") <= 300
    ).count()
    with pytest.raises(Exception, match="empty snapshot range"):
        t.changelog_scan_between_timestamps(spark, 3_000, 3_500)
    with pytest.raises(Exception, match="at or before"):
        t.changelog_scan_between_timestamps(spark, None, 10)


@pytest.mark.parametrize(
    "ops",
    [
        ("append", "overwrite"),
        ("append", "upsert", "overwrite"),
        ("append", "overwrite", "upsert"),
        ("append", "delete_eq", "overwrite", "append"),
        ("append", "overwrite", "overwrite"),
        ("append", "upsert", "delete_eq", "overwrite", "upsert"),
    ],
)
def test_changelog_replay_reconstructs_final_state(spark, tmp_path, orders, ops):
    """REPLAY PROPERTY, the CDC consumer's contract: for ANY commit
    sequence (appends, equality-delete upserts, keyed deletes, CoW
    overwrites), initial-state + changelog deltas applied in snapshot
    order == final snapshot, as multisets. This is what net-change
    correctness MEANS — a leaked false pair, a missed delete, or a
    double-counted insert breaks the reconstruction."""
    from collections import Counter

    o = orders.select("o_orderkey", "o_totalprice")

    def rows(df):
        return Counter((r.o_orderkey, r.o_totalprice) for r in df.collect())

    w = IcebergFixtureWriter(tmp_path / "t", seed=hash(ops) % 1000 + 1)
    w.append(o.filter("o_orderkey > 0 and o_orderkey <= 120"), timestamp_ms=1_000)
    t0 = IcebergTable(tmp_path / "t")
    s0 = t0.current_snapshot_id()
    initial = rows(t0.read(spark))

    ts = 2_000
    for i, op in enumerate(ops):
        lo = 20 * (i + 1)
        if op == "append":
            w.append(
                o.filter(f"o_orderkey > {120 + 40 * i} and o_orderkey <= {160 + 40 * i}"),
                timestamp_ms=ts,
            )
        elif op == "upsert":
            w.upsert(
                o.filter(f"o_orderkey > {lo} and o_orderkey <= {lo + 30}").withColumn(
                    "o_totalprice", F.lit(-float(i + 1))
                ),
                ["o_orderkey"],
                timestamp_ms=ts,
            )
        elif op == "delete_eq":
            keys = [
                {"o_orderkey": r.o_orderkey}
                for r in IcebergTable(tmp_path / "t")
                .read(spark)
                .filter(f"o_orderkey > {lo} and o_orderkey <= {lo + 15}")
                .select("o_orderkey")
                .collect()
            ]
            if not keys:
                continue
            w.delete_equality(keys, ["o_orderkey"], timestamp_ms=ts)
        elif op == "overwrite":
            cur = IcebergTable(tmp_path / "t").read(spark)
            # CoW rewrite: keep a prefix unchanged, restate a slice
            w.overwrite(
                cur.filter("o_orderkey <= 200").unionByName(
                    cur.filter("o_orderkey > 200").withColumn(
                        "o_totalprice", F.lit(-99.0)
                    )
                ),
                timestamp_ms=ts,
            )
        ts += 1_000

    t = IcebergTable(tmp_path / "t")
    final = rows(t.read(spark))
    ch = t.changelog_scan(spark, from_snapshot_id=s0)
    # apply deltas in snapshot order (the ancestry walk already yields
    # oldest-first; group by _snapshot_id to respect commit boundaries)
    state = Counter(initial)
    sid_order = []
    for r in ch.select("_snapshot_id").distinct().collect():
        sid_order.append(r._snapshot_id)
    chain = [int(s["snapshot-id"]) for s in reversed(t.ancestry())]
    sid_order.sort(key=chain.index)
    by_sid = {}
    for r in ch.collect():
        by_sid.setdefault(r._snapshot_id, []).append(r)
    for sid in sid_order:
        for r in by_sid[sid]:
            key = (r.o_orderkey, r.o_totalprice)
            if r._change_type == "delete":
                state[key] -= 1
                if state[key] == 0:
                    del state[key]
            else:
                state[key] += 1
    assert state == final, (
        f"replay diverged for ops={ops}: "
        f"missing={final - state} extra={state - final}"
    )
