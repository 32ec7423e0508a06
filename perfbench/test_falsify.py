"""Falsification tests for the benchmark's own checker.

    python3 -m pytest perfbench/test_falsify.py -q     (from the repository root)

The checker tests inject one fault into a small ``micro_batches`` drain
that ``ParquetDestination.verify`` does not catch (APPEND verification
counts the whole table) and assert that the engine-independent checker
reports it. The deadline test hangs a unit and asserts that it is
cancelled and fails.
"""

from __future__ import annotations

import glob
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from workloads import MicroBatches  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    run.configure_env(work)
    session = run.start_session(work, trace=False)
    yield session
    run.stop(session)


def _drain(spark, tmp_path, mutate=None) -> MicroBatches:
    w = MicroBatches(seed=7, work=str(tmp_path), seconds=3)
    w.generate()
    if mutate is not None:
        mutate(w)
    w.prepare(spark)
    w.drain(spark)
    assert len(w.pipeline.epochs) == w.n_units
    return w


def _errors(bad: dict) -> list[str]:
    return [e for errs in bad.values() for e in errs]


def test_clean_drain_passes(spark, tmp_path):
    w = _drain(spark, tmp_path)
    assert w.check(spark, {}) == {}


def test_deleted_segment_passes_verify_but_fails_check(spark, tmp_path):
    from cdf_spark.package.ledger import ParquetDestination, Receipt

    w = _drain(spark, tmp_path)
    epoch = w.pipeline.epochs[1]
    dest = w.path("run", "dest")
    segments = glob.glob(os.path.join(dest, f"{epoch.package_id}-*.parquet"))
    assert segments
    for seg in segments:
        os.remove(seg)
    receipt = Receipt(
        receipt_id="rcp-falsify", package_id=epoch.package_id, destination=dest,
        disposition="append", delivery_guarantee="at_least_once_duplicate_risk",
        rows_written=epoch.rows_admitted, value_hash="", committed_at_ms=0,
    )
    assert ParquetDestination(dest).verify(spark, receipt, None).verified
    errs = _errors(w.check(spark, {}))
    assert any("expected rows missing" in e for e in errs), errs


def test_unplanted_violation_passes_verify_but_fails_check(spark, tmp_path):
    def unplant(w: MicroBatches) -> None:
        path = w.files[1]
        t = pq.read_table(path)
        amount = t.column("amount").to_pylist()
        i = next(k for k, v in enumerate(amount) if v is not None and v < 0)
        amount[i] = -amount[i]
        t = t.set_column(t.schema.get_field_index("amount"), "amount", pa.array(amount, pa.float64()))
        pq.write_table(t, path)

    w = _drain(spark, tmp_path, unplant)
    assert all(e.receipt_verified for e in w.pipeline.epochs)
    errs = _errors(w.check(spark, {}))
    assert any("violations planted" in e for e in errs), errs


def test_unit_past_its_deadline_is_cancelled_and_fails(spark):
    t0 = time.perf_counter()
    result, _, err = run.guarded(
        spark, lambda s: s.range(10**13).selectExpr("max(id)").collect(), "perfbench-test-hang", 2.0
    )
    assert result is None and err == "deadline expired"
    assert time.perf_counter() - t0 < 15
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
