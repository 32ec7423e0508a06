"""The three workloads: inputs, one warm-up unit, the measured units and
the correctness check.

A workload object is built from the seed and a work directory, makes
its inputs in ``generate()`` (untimed), and runs units through the
engine's public API only. Every unit is closed loop with one caller.
"""

from __future__ import annotations

import os
import shutil
import time

import check
import gen
from spans import file_sizes, tree_bytes


def _contract():
    from cdf_spark.contracts import Contract, DomainRule, NullabilityRule, RangeRule

    return Contract(rules=[
        NullabilityRule("customer"),
        DomainRule("status", list(gen.STATUSES)),
        RangeRule("amount", min=0.0, max=1000.0),
    ])


def _descriptor(resource_id: str):
    from cdf_spark.sources.base import CursorSpec, ResourceDescriptor

    return ResourceDescriptor(
        resource_id=resource_id,
        primary_key=["id"],
        cursor=CursorSpec("seq"),
        dedup_keys=["id"],
        dedup_keep="last",
    )


def _run_counts(res) -> dict:
    return {
        "admitted": res.rows_admitted,
        "quarantined": res.rows_quarantined,
        "late": res.rows_late,
        "verified": bool(res.receipt is not None and res.receipt.verified),
    }


class Workload:
    name = ""
    units_per_second = 1.0  # fixed work: units = round(seconds * this)

    def __init__(self, seed: int, work: str, seconds: int):
        self.seed = seed
        self.work = work
        self.n_units = max(3, round(seconds * self.units_per_second))
        self.faults: dict = {}
        self.source_rows = 0
        self.source_bytes = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self, spark, k: int) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Untimed state the measured units start from."""

    def units(self):
        """Yield (unit_id, callable(spark) -> counts dict)."""
        raise NotImplementedError

    def after_unit(self, unit_id) -> None:
        """Bookkeeping between units, outside the unit's time."""

    def bytes_written(self) -> int:
        """Bytes the measured units wrote under the work dir."""
        return 0

    def check(self, spark, counts: dict) -> dict:
        """Return {unit_id: [mismatch, ...]} for units that failed."""
        raise NotImplementedError

    def consumed(self, units_done: int) -> tuple[int, int]:
        """(rows, bytes) of source the measured units consumed."""
        return self.source_rows, self.source_bytes


class MicroBatches(Workload):
    """A StreamingLoadPipeline DRAIN over pre-landed files, one file per
    epoch, APPEND into one growing destination. A unit is one epoch;
    its time runs from the previous epoch's end (or the stream start) to
    its own end, so trigger overhead is in it."""

    name = "micro_batches"
    units_per_second = 0.5
    ROWS = 10_000
    DELAY_S = 60

    def generate(self):
        self.leds = gen.stream_files(self.seed, self.path("landing"), self.n_units, self.ROWS, self.DELAY_S)
        self.faults = {"epochs": len(self.leds), "per_epoch": [x.as_dict() for x in self.leds]}
        self.files = sorted(os.path.join(self.path("landing"), f) for f in os.listdir(self.path("landing")))
        self.source_rows = sum(x.rows for x in self.leds)
        self.source_bytes = sum(os.path.getsize(f) for f in self.files)
        gen.stream_files(self.seed + 1_000_003, self.path("warm_landing"), 1, self.ROWS, self.DELAY_S)

    @staticmethod
    def _land(files: list[str], dest: str) -> None:
        """Copy files into the stream source with increasing mtimes so
        the file source takes them in order, one per trigger."""
        os.makedirs(dest, exist_ok=True)
        base = time.time() - len(files) - 10
        for k, f in enumerate(files):
            out = os.path.join(dest, os.path.basename(f))
            shutil.copyfile(f, out)
            os.utime(out, (base + k, base + k))

    def _pipeline(self, spark, root: str, source: str):
        from cdf_spark.package.ledger import ParquetDestination
        from cdf_spark.sources.base import WriteDisposition
        from cdf_spark.streaming.pipeline import StreamingLoadPipeline
        from cdf_spark.streaming.watermark import WatermarkPolicy

        schema = spark.read.parquet(self.files[0]).schema
        return StreamingLoadPipeline(
            descriptor=_descriptor("orders_stream"),
            source_path=source,
            schema=schema,
            contract=_contract(),
            watermark=WatermarkPolicy("event_ts", delay=self.DELAY_S),
            late_action="quarantine",
            package_root=os.path.join(root, "packages"),
            ledger_root=os.path.join(root, "ledger"),
            destination=ParquetDestination(os.path.join(root, "dest")),
            reader_options={"maxFilesPerTrigger": 1},
        )

    def warmup(self, spark, k):
        root = self.path(f"warm{k}")
        warm_files = sorted(os.path.join(self.path("warm_landing"), f) for f in os.listdir(self.path("warm_landing")))
        self._land(warm_files, os.path.join(root, "src"))
        self._pipeline(spark, root, os.path.join(root, "src")).run(spark)
        shutil.rmtree(root, ignore_errors=True)

    def prepare(self, spark):
        self._land(self.files, self.path("src"))
        self.pipeline = self._pipeline(spark, self.path("run"), self.path("src"))

    def drain(self, spark):
        self.pipeline.run(spark)

    def bytes_written(self):
        return tree_bytes(self.path("run"))

    def epoch_counts(self) -> list[dict]:
        return [
            {"admitted": e.rows_admitted, "quarantined": e.rows_quarantined, "late": e.rows_late,
             "verified": e.receipt_verified}
            for e in self.pipeline.epochs
        ]

    def check(self, spark, counts):
        epochs = self.epoch_counts()
        bad = {k: ["receipt not verified"] for k, e in enumerate(epochs) if not e["verified"]}
        errs = check.check_stream(self.files, self.DELAY_S, self.path("run", "dest"), epochs,
                                  [sum(x.violations.values()) for x in self.leds])
        if errs:
            bad.setdefault(len(epochs) - 1 if epochs else 0, []).extend(errs)
        return bad


class CdcMerge(Workload):
    """LoadPipeline runs with a ledger and cursor resume: each unit lands
    one upsert batch in the source glob and MERGEs it on ``id`` into a
    target table that already holds ``BASE_ROWS`` rows."""

    name = "cdc_merge"
    units_per_second = 0.5
    BASE_ROWS, WARM_BASE_ROWS, ROWS = 300_000, 20_000, 10_000
    # what the engine writes; the landed batches under src/ are inputs
    WRITTEN_DIRS = ("target", "packages", "ledger")

    def generate(self):
        base_led, leds = gen.cdc_batches(self.seed, self.path("in"), self.BASE_ROWS, self.n_units, self.ROWS)
        self.faults = {"base": base_led.as_dict(), "per_batch": [x.as_dict() for x in leds]}
        self.batches = [self.path("in", f"batch-{b:04d}.parquet") for b in range(self.n_units)]
        self.source_rows = sum(x.rows for x in leds)
        self.source_bytes = sum(os.path.getsize(f) for f in self.batches)
        gen.cdc_batches(self.seed + 1_000_003, self.path("warm_in"), self.WARM_BASE_ROWS, 1, self.ROWS)

    def _pipeline(self, root: str):
        from cdf_spark.package.ledger import CheckpointLedger, ParquetDestination
        from cdf_spark.runtime import LoadPipeline
        from cdf_spark.sources.base import WriteDisposition
        from cdf_spark.sources.files import FileResource

        return LoadPipeline(
            resource=FileResource(_descriptor("orders_cdc"), os.path.join(root, "src", "*.parquet")),
            contract=_contract(),
            package_root=os.path.join(root, "packages"),
            ledger=CheckpointLedger(os.path.join(root, "ledger")),
            destination=ParquetDestination(os.path.join(root, "target"), merge_keys=["id"]),
            disposition=WriteDisposition.MERGE,
        )

    @staticmethod
    def _seed_target(root: str, inputs: str) -> None:
        """Start ``root`` from the generated base snapshot as its target
        table (a directory of parquet files, as ParquetDestination keeps
        it) and an empty source glob."""
        os.makedirs(os.path.join(root, "target"))
        os.makedirs(os.path.join(root, "src"))
        shutil.copyfile(os.path.join(inputs, "base.parquet"), os.path.join(root, "target", "base.parquet"))

    def warmup(self, spark, k):
        root = self.path(f"warm{k}")
        self._seed_target(root, self.path("warm_in"))
        shutil.copyfile(self.path("warm_in", "batch-0000.parquet"), os.path.join(root, "src", "batch-0000.parquet"))
        self._pipeline(root).run(spark)
        shutil.rmtree(root, ignore_errors=True)

    def prepare(self, spark):
        self._seed_target(self.path("run"), self.path("in"))
        self.pipeline = self._pipeline(self.path("run"))
        self.written = 0

    def _unit(self, spark, b: int) -> dict:
        shutil.copyfile(self.batches[b], self.path("run", "src", os.path.basename(self.batches[b])))
        return _run_counts(self.pipeline.run(spark))

    def _engine_files(self) -> dict:
        out = {}
        for d in self.WRITTEN_DIRS:
            out.update(file_sizes(self.path("run", d)))
        return out

    def units(self):
        for b in range(self.n_units):
            self.before = self._engine_files()
            yield b, (lambda spark, b=b: self._unit(spark, b))

    def after_unit(self, unit_id):
        # the MERGE rewrites the target, so count new or changed files
        now = self._engine_files()
        self.written += sum(size for p, (size, mtime) in now.items() if self.before.get(p) != (size, mtime))

    def bytes_written(self):
        return self.written

    def consumed(self, units_done):
        rows = units_done * self.ROWS
        return rows, sum(os.path.getsize(f) for f in self.batches[:units_done])

    def check(self, spark, counts):
        bad = {u: ["receipt not verified"] for u, c in counts.items() if not c.get("verified")}
        done = [counts[u] for u in sorted(counts)]
        errs = check.check_merge(self.path("in", "base.parquet"), self.batches[: len(done)],
                                 self.path("run", "target"), done,
                                 [sum(x["violations"].values()) for x in self.faults["per_batch"]])
        if errs:
            bad.setdefault(max(counts), []).extend(errs)
        return bad


class OperatorQueries(Workload):
    """Oracled registry queries over a seeded fixture. A unit is one
    query, its (small) result collected to the driver; the measured
    phase cycles the list, and every unit's rows are checked against
    the query's registry oracle SQL run in DuckDB."""

    name = "operator_queries"
    # query -> the fixture tables it reads
    QUERIES = {
        "q9_product_type_profit": ("lineitem", "orders", "part", "supplier", "nation"),
        "cohort_retention_weekly": ("events",),
        "funnel_view_click_purchase": ("events",),
        "pagerank_supplier_graph": ("orders", "lineitem"),
        "bradley_terry_supplier_strengths": ("lineitem",),
        "tfidf_doc_similarity": ("documents",),
        "bm25_topk_docs": ("documents",),
        "unigram_lm_tokenizer": ("documents",),
    }

    def __init__(self, seed: int, work: str, seconds: int):
        super().__init__(seed, work, seconds)
        # whole passes over the query list, one per 8 s asked for
        self.n_units = len(self.QUERIES) * max(1, round(seconds / 8))

    def generate(self):
        self.tables = gen.star_fixture(self.seed, self.path("fixture"))
        self.faults = {"tables": self.tables}
        self.order = list(self.QUERIES)
        self.source_rows = sum(self.tables.values())
        self.source_bytes = tree_bytes(self.path("fixture"))

    def query_of(self, unit_id: int) -> str:
        return self.order[unit_id % len(self.order)]

    def _query(self, spark, name: str) -> dict:
        from cdf_spark import queries as q

        df = q.queries()[name](spark, self.path("fixture"))
        return {"query": name, "columns": df.columns, "rows": [tuple(r) for r in df.collect()]}

    def warmup(self, spark, k):
        self._query(spark, self.order[0])

    def units(self):
        for i in range(self.n_units):
            yield i, (lambda spark, name=self.query_of(i): self._query(spark, name))

    def unit_span(self, unit_id) -> str:
        return "queries." + self.query_of(unit_id)

    def consumed(self, units_done):
        rows = sum(self.tables[t] for i in range(units_done) for t in self.QUERIES[self.query_of(i)])
        return rows, 0

    def check(self, spark, counts):
        from cdf_spark import queries as q

        oracles = q.oracle_sql()
        expected = {name: check.oracle_rows(self.path("fixture"), oracles[name]) for name in self.order}
        bad = {}
        for u, c in counts.items():
            ocols, orows = expected[c["query"]]
            why = check.compare_rows(c["columns"], c["rows"], ocols, orows)
            if why is None and not c["rows"]:
                why = "empty result"
            if why is not None:
                bad[u] = [f"{c['query']}: {why}"]
            c.pop("rows")
        return bad


WORKLOADS = {w.name: w for w in (MicroBatches, CdcMerge, OperatorQueries)}
