"""The r15 size gate on eager in-session pins (plans/checkpoint.py).

The r14 driver record showed unconditional eager localCheckpoints
charging a fixed synchronous-job cost that loses at small scale
(funnel_view_click_purchase 0.48x, cohort_retention_weekly 0.57x).
The gate keeps the lazy single-action plan below
``spark.cdf.pin.minSourceBytes`` of estimated source-scan size and
engages the pin above it — these tests pin VALUE IDENTITY across both
modes and the plan shape of each.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from cdf_spark.plans.checkpoint import (
    PIN_GATE_CONF,
    observed_get,
    pin_if_expensive,
    pin_worthwhile,
    pinned_scalars,
)


@pytest.fixture
def gate(spark):
    """Restore the gate conf after each test."""
    yield spark.conf
    spark.conf.unset(PIN_GATE_CONF)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pin_worthwhile_respects_the_gate(spark, gate, tmp_path):
    spark.range(0, 1000).withColumn("x", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "t"))
    src = spark.read.parquet(str(tmp_path / "t"))
    # default gate (256 MiB) >> a 1000-row parquet: lazy
    assert pin_worthwhile(src) is False
    gate.set(PIN_GATE_CONF, "0")  # forced on
    assert pin_worthwhile(src) is True
    gate.set(PIN_GATE_CONF, "1")  # any known size passes a 1-byte gate
    assert pin_worthwhile(src) is True


def test_malformed_gate_raises_and_names_the_key(spark, gate, tmp_path):
    """A bad gate conf is a configuration error, not a lazy plan: it
    raises naming the key, while unreadable plan statistics still
    fall back to the lazy shape."""
    spark.range(0, 10).write.mode("overwrite").parquet(str(tmp_path / "t"))
    src = spark.read.parquet(str(tmp_path / "t"))
    for bad in ("256MiB", "", "1e9"):
        gate.set(PIN_GATE_CONF, bad)
        with pytest.raises(ValueError, match=PIN_GATE_CONF.replace(".", r"\.")):
            pin_worthwhile(src)

    class NoStats:
        sparkSession = spark
        _jdf = None  # any stats access fails

    gate.set(PIN_GATE_CONF, "1")
    assert pin_worthwhile(NoStats()) is False
    gate.set(PIN_GATE_CONF, "0")  # forced on: no stats read at all
    assert pin_worthwhile(NoStats()) is True


def test_pin_if_expensive_lazy_below_gate_pinned_above(spark, gate, tmp_path):
    spark.range(0, 100).write.mode("overwrite").parquet(str(tmp_path / "t"))
    src = spark.read.parquet(str(tmp_path / "t"))
    derived = src.groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("c"))

    lazy = pin_if_expensive(derived, source=src)
    assert str(tmp_path) in lazy._jdf.queryExecution().executedPlan().toString()

    gate.set(PIN_GATE_CONF, "0")
    pinned = pin_if_expensive(derived, source=src)
    assert str(tmp_path) not in pinned._jdf.queryExecution().executedPlan().toString()
    assert _rows(lazy) == _rows(pinned)


def test_pinned_scalars_identical_in_both_modes(spark, gate, tmp_path):
    spark.range(0, 500).withColumn("v", F.col("id") % 13).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "t"))
    src = spark.read.parquet(str(tmp_path / "t"))
    derived = src.groupBy("v").agg(F.sum("id").alias("s"))
    aggs = lambda: [F.sum("s").alias("total"), F.count(F.lit(1)).alias("n")]  # noqa: E731

    lazy_df, lazy_stats = pinned_scalars(derived, aggs(), source=src)
    assert str(tmp_path) in lazy_df._jdf.queryExecution().executedPlan().toString()

    gate.set(PIN_GATE_CONF, "0")
    pin_df, pin_stats = pinned_scalars(derived, aggs(), source=src)
    assert str(tmp_path) not in pin_df._jdf.queryExecution().executedPlan().toString()

    assert lazy_stats == pin_stats
    assert _rows(lazy_df) == _rows(pin_df)


def test_observed_get_raises_instead_of_hanging(spark):
    """`observed_get` raises, naming the observation, when the metric
    never fires or the JVM accessor throws. The contract's quarantine
    count and the late-data split's late count read through it, so a
    failing accessor raises there too instead of turning into None
    (which would silently force the quarantine job) or hanging."""
    from pyspark.sql import Observation

    from cdf_spark.contracts.evaluator import ContractResult
    from cdf_spark.operators.late_data import LateDataSplit

    obs = Observation()
    # observed but never acted on: the metric can never fire
    spark.range(0, 10).observe(obs, F.count(F.lit(1)).alias("n"))
    with pytest.raises(RuntimeError, match="did not fire"):
        observed_get(obs, timeout_s=0.3)

    class _BrokenAccessor:
        """The JVM accessor throws; the blocking get must not be reached."""

        def __init__(self, name):
            self._name = name

        class _jo:
            @staticmethod
            def getRowOrEmpty():
                raise RuntimeError("py4j: accessor gone")

        @property
        def get(self):
            pytest.fail("observed_get fell back to the blocking Observation.get")

    with pytest.raises(RuntimeError, match="'broken'.*accessor failed"):
        observed_get(_BrokenAccessor("broken"), timeout_s=0.3)
    cres = ContractResult(None, None, None, observation=_BrokenAccessor("contract-quarantine-x"))
    with pytest.raises(RuntimeError, match="'contract-quarantine-x'.*accessor failed"):
        cres.observed_quarantine_count()
    split = LateDataSplit(None, None, None, None, observation=_BrokenAccessor("late-rows-x"))
    with pytest.raises(RuntimeError, match="'late-rows-x'.*accessor failed"):
        split.observed_late_count()
    # no observation attached: no count, no wait
    assert ContractResult(None, None, None).observed_quarantine_count() is None
    assert LateDataSplit(None, None, None, None).observed_late_count() is None


def test_funnel_and_cohort_value_identity_across_gate(spark, gate):
    """The gated operators (funnel_counts, funnel_conversion_stats,
    cohort_retention) return identical rows with the pin forced on and
    forced off."""
    from cdf_spark.operators.temporal import (
        cohort_retention,
        funnel_counts,
        funnel_conversion_stats,
    )

    with tempfile.TemporaryDirectory() as tmp:
        rows = []
        for u in range(40):
            rows.append((u, "view", f"2031-01-{(u % 27) + 1:02d} 08:00:00"))
            if u % 2 == 0:
                rows.append((u, "click", f"2031-01-{(u % 27) + 1:02d} 09:30:00"))
            if u % 4 == 0:
                rows.append((u, "purchase", f"2031-01-{(u % 27) + 2:02d} 10:00:00"))
        spark.createDataFrame(
            rows, ["user_id", "event_type", "ts_s"]
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/events")
        events = spark.read.parquet(f"{tmp}/events")
        steps = ["view", "click", "purchase"]

        results = {}
        for mode, val in (("lazy", str(1 << 60)), ("pinned", "0")):
            gate.set(PIN_GATE_CONF, val)
            results[mode] = (
                _rows(funnel_counts(events, steps)),
                _rows(funnel_conversion_stats(events, steps)),
                _rows(cohort_retention(events)),
            )
        assert results["lazy"] == results["pinned"]
        # the lazy funnel plan still reads the source directly
        gate.set(PIN_GATE_CONF, str(1 << 60))
        lazy_plan = (
            funnel_counts(events, steps)._jdf.queryExecution().executedPlan().toString()
        )
        assert tmp in lazy_plan
        gate.set(PIN_GATE_CONF, "0")
        pinned_plan = (
            funnel_counts(events, steps)._jdf.queryExecution().executedPlan().toString()
        )
        assert tmp not in pinned_plan


def test_lm_pins_are_not_gated(spark, gate):
    """The LM scorers' pins are deliberately UNCONDITIONAL (r15
    measured rejection: the lazy re-tokenize at sf0.1 was ~2x slower
    than the pin job, so the gate crossover sits below bench scale) —
    even with the gate forced to 'never pin', their final plans must
    not rescan the corpus."""
    from cdf_spark.operators.curation import (
        lm_bigram_perplexity_scores,
        lm_kn_bigram_perplexity_scores,
        lm_perplexity_scores,
    )

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [
                (i, f"the quick brown fox number {i % 5} jumps over the lazy dog")
                for i in range(25)
            ],
            ["doc_id", "text"],
        ).write.mode("overwrite").parquet(f"{tmp}/docs")
        docs = spark.read.parquet(f"{tmp}/docs")
        gate.set(PIN_GATE_CONF, str(1 << 60))
        for fn in (
            lm_perplexity_scores,
            lm_bigram_perplexity_scores,
            lm_kn_bigram_perplexity_scores,
        ):
            out = fn(docs)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert plan.count(tmp) == 0, fn.__name__
            assert out.count() == 25, fn.__name__
