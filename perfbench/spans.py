"""Span recorder installed from outside the program.

``install(recorder)`` wraps the public callables of each layer where
their callers look them up: class attributes for methods, and every
``cdf_spark`` module global bound to a wrapped function (so
``cdf_spark.runtime.evaluate_contract`` and
``cdf_spark.streaming.pipeline.dedup_keyed`` are wrapped, not only the
defining module). Nothing in the program changes.

Each span holds name, start, end, parent span, unit id and counts.
Spark work is attributed with a job tag per span, added in the calling
thread (tags are thread-local, so the streaming epoch wrapper adds its
tag inside the ``foreachBatch`` callback thread). A job carries the
tags of every open span, so a span's jobs include its children's. Job,
stage and task counts are resolved from the status tracker once, after
the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time

LAYERS = [
    "runtime.run",
    "streaming.epoch",
    "streaming.trigger",
    "streaming.watermark",
    "package.lease",
    "sources.scan",
    "types.authority",
    "contracts.evaluate",
    "operators.dedup",
    "operators.late_data",
    "package.build",
    "package.commit",
    "package.verify",
    "package.ledger",
    "plans.checkpoint",
]
EXTRA_COUNTS = {
    "sources.scan": ["files"],
    "package.build": ["rows", "bytes"],
    "package.commit": ["bytes"],
    "package.verify": ["dest_bytes"],
    "package.ledger": ["history_lines"],
    "plans.checkpoint": ["pins"],
}

UNITS = {"s": "s", "self_s": "s", "jobs": "count", "tasks": "count", "tasks_failed": "count",
         "calls": "count", "stages": "count", "files": "count", "rows": "count", "bytes": "B",
         "dest_bytes": "B", "history_lines": "count", "pins": "count"}


def metric_names(queries) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric a traced run prints."""
    out = []
    for span in LAYERS:
        keys = ["s", "self_s"]
        if span != "streaming.trigger":
            keys += ["jobs", "tasks", "calls"] + EXTRA_COUNTS.get(span, [])
        out += [(f"{span}.{k}", UNITS[k]) for k in keys]
    for q in queries:
        out += [(f"queries.{q}.{k}", UNITS[k]) for k in ("s", "self_s", "jobs", "tasks", "stages")]
    # failed tasks are counted per unit, not per layer, to stay within the
    # per-layer metric budget
    return out + [("tasks_failed", "count"), ("write_amp", "ratio"), ("traced_wall_s", "s"),
                  ("cold_setup_s", "s")]


def tree_bytes(path) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def file_sizes(path) -> dict:
    """{path: (size, mtime_ns)} of every file under ``path``."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Recorder:
    """In-memory spans; one instance per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.unit = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack and stack[-1]["name"] == name:
            # a layer calling itself (e.g. a pin helper that pins) stays one span
            yield stack[-1]
            return
        with self._lock:
            self._next += 1
            sid = self._next
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "unit": self.unit,
            "tag": f"perfbench-span-{sid}",
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.sc.addJobTag(rec["tag"])
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(rec["tag"])
            with self._lock:
                self.spans.append(rec)

    # -- after the run ----------------------------------------------------

    def failed_tasks(self, units: dict) -> float:
        """Median over units of the failed tasks under the unit's root spans."""
        per = {u: 0 for u in units}
        for r in self.spans:
            if r["parent"] is None and r["unit"] in per:
                per[r["unit"]] += r["counts"].get("tasks_failed", 0)
        return float(statistics.median(per.values())) if per else 0.0

    def resolve_spark_counts(self) -> None:
        """Jobs, stages, completed and failed tasks per span, from the
        status tracker (needs spark.ui.retainedJobs/Stages above the
        run's job count)."""
        tracker = self.sc._jsc.sc().statusTracker()
        py_tracker = self.sc.statusTracker()
        stage_cache: dict = {}
        job_cache: dict = {}
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForTag(rec["tag"]))
            stages: set = set()
            for j in jobs:
                if j not in job_cache:
                    info = py_tracker.getJobInfo(j)
                    job_cache[j] = list(info.stageIds) if info is not None else []
                stages.update(job_cache[j])
            tasks = failed = 0
            for s in stages:
                if s not in stage_cache:
                    info = py_tracker.getStageInfo(s)
                    stage_cache[s] = (
                        (info.numCompletedTasks, info.numFailedTasks) if info is not None else (0, 0)
                    )
                tasks += stage_cache[s][0]
                failed += stage_cache[s][1]
            rec["job_ids"] = jobs
            rec["counts"].update({"stages": len(stages), "tasks": tasks, "tasks_failed": failed})

    def write_jsonl(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                out = dict(rec)
                out["start"] = round(rec["start"] - t0, 6)
                out["end"] = round(rec["end"] - t0, 6)
                f.write(json.dumps(out, default=str) + "\n")

    def layer_metrics(self, units: dict, names: list[str]) -> dict:
        """Per span name over the measured units it appears in: median
        per-unit wall (``.s``), self wall (``.self_s``), jobs, tasks,
        failed tasks, calls and extra counts. ``units`` maps unit id to
        its wall seconds; ``streaming.trigger`` is unit time not covered
        by epoch spans."""
        by_id = {r["id"]: r for r in self.spans}
        child_s: dict = {}
        for r in self.spans:
            if r["parent"] in by_id:
                child_s[r["parent"]] = child_s.get(r["parent"], 0.0) + (r["end"] - r["start"])
        per: dict = {}
        for r in self.spans:
            if r["unit"] not in units:
                continue
            d = per.setdefault(r["name"], {}).setdefault(
                r["unit"], {"s": 0.0, "self_s": 0.0, "jobs": set(), "tasks": 0, "tasks_failed": 0,
                            "stages": 0, "calls": 0, "extra": {}}
            )
            dur = r["end"] - r["start"]
            d["s"] += dur
            d["self_s"] += max(0.0, dur - child_s.get(r["id"], 0.0))
            # same-name spans never nest, so their jobs are disjoint
            for k in ("tasks", "tasks_failed", "stages"):
                d[k] += r["counts"].get(k, 0)
            d["jobs"].update(r.get("job_ids", []))
            d["calls"] += 1
            for k, v in r["counts"].items():
                if k == "history_lines":  # a level, not an amount
                    d["extra"][k] = max(d["extra"].get(k, 0), v)
                elif k not in ("stages", "tasks", "tasks_failed"):
                    d["extra"][k] = d["extra"].get(k, 0) + v
        epoch = per.get("streaming.epoch", {})
        if epoch:
            per["streaming.trigger"] = {
                u: {"s": max(0.0, units[u] - epoch[u]["s"]), "self_s": max(0.0, units[u] - epoch[u]["s"]),
                    "jobs": set(), "tasks": 0, "tasks_failed": 0, "stages": 0, "calls": 1, "extra": {}}
                for u in epoch
            }
        out: dict = {}
        for name in names:
            rows = list(per.get(name, {}).values())

            def med(f):
                return float(statistics.median([f(x) for x in rows])) if rows else 0.0

            out[name] = {
                "s": med(lambda x: x["s"]),
                "self_s": med(lambda x: x["self_s"]),
                "jobs": med(lambda x: len(x["jobs"])),
                "tasks": med(lambda x: x["tasks"]),
                "tasks_failed": med(lambda x: x["tasks_failed"]),
                "stages": med(lambda x: x["stages"]),
                "calls": med(lambda x: x["calls"]),
            }
            for k in EXTRA_COUNTS.get(name, []):
                out[name][k] = med(lambda x: x["extra"].get(k, 0))
        return out


# -- installation -------------------------------------------------------------


def _rebind(orig, wrapped) -> None:
    """Replace ``orig`` wherever a cdf_spark module global holds it."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("cdf_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapped)


def _wrap(rec: Recorder, name: str, fn, after=None, before=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name) as s:
            if before is not None:
                before(s, args)
            out = fn(*args, **kwargs)
            if after is not None:
                after(s, args, out)
            return out

    return wrapper


def _add(s: dict, key: str, v: int) -> None:
    s["counts"][key] = s["counts"].get(key, 0) + v


def install(rec: Recorder) -> None:
    """Wrap every layer's public entry points. Call after the
    ``cdf_spark`` modules the workload uses are imported."""
    from pyspark.sql.classic.dataframe import DataFrame

    import cdf_spark.contracts.evaluator as ev
    import cdf_spark.operators.dedup as dd
    import cdf_spark.operators.late_data as ld
    import cdf_spark.plans.checkpoint as pins
    import cdf_spark.queries  # noqa: F401  (binds the pin helpers into operator modules)
    from cdf_spark.package.builder import PackageBuilder
    from cdf_spark.package.lease import ScopeLeaseManager
    from cdf_spark.package.ledger import CheckpointLedger, ParquetDestination
    from cdf_spark.runtime import LoadPipeline
    from cdf_spark.sources.files import FileResource
    from cdf_spark.streaming import watermark
    from cdf_spark.streaming.pipeline import StreamingLoadPipeline
    from cdf_spark.types.authority import SchemaAuthority

    def method(cls, attr, name, **kw):
        setattr(cls, attr, _wrap(rec, name, getattr(cls, attr), **kw))

    def function(mod, attr, name, **kw):
        orig = getattr(mod, attr)
        _rebind(orig, _wrap(rec, name, orig, **kw))

    method(LoadPipeline, "run", "runtime.run")
    method(FileResource, "scan", "sources.scan",
           after=lambda s, a, out: _add(s, "files", len(out[1].partitions.units) if out[1].partitions else 0))
    for attr in ("admit", "propose", "promote"):
        method(SchemaAuthority, attr, "types.authority")
    for attr in ("acquire", "release"):
        method(ScopeLeaseManager, attr, "package.lease")
    function(ev, "evaluate_contract", "contracts.evaluate")
    function(dd, "dedup_keyed", "operators.dedup")
    function(ld, "classify_late_data", "operators.late_data")
    function(watermark, "observed_frontier", "streaming.watermark")
    method(watermark.WatermarkLedger, "advance", "streaming.watermark")
    method(PackageBuilder, "build", "package.build",
           after=lambda s, a, out: (_add(s, "rows", out.rows_admitted + out.rows_quarantined),
                                    _add(s, "bytes", tree_bytes(out.path))))

    before_commit: dict = {}

    def commit_before(s, a):
        before_commit[s["id"]] = file_sizes(a[0].table_path)

    def commit_after(s, a, out):
        before = before_commit.pop(s["id"])
        now = file_sizes(a[0].table_path)
        _add(s, "bytes", sum(sz for p, (sz, m) in now.items() if before.get(p) != (sz, m)))

    method(ParquetDestination, "commit", "package.commit", before=commit_before, after=commit_after)
    method(ParquetDestination, "verify", "package.verify",
           before=lambda s, a: _add(s, "dest_bytes", tree_bytes(a[0].table_path)))

    def history(s, a):
        n = 0
        if a[0].checkpoints.exists():
            with open(a[0].checkpoints) as f:
                n = sum(1 for _ in f)
        s["counts"]["history_lines"] = max(s["counts"].get("history_lines", 0), n)

    for attr in ("record_receipt", "advance", "resume_position", "epoch_committed"):
        method(CheckpointLedger, attr, "package.ledger", before=history)
    method(DataFrame, "localCheckpoint", "plans.checkpoint", before=lambda s, a: _add(s, "pins", 1))
    for attr in ("pin_if_expensive", "pinned_scalars", "release_local_checkpoint", "observed_get"):
        function(pins, attr, "plans.checkpoint")

    orig_epoch = StreamingLoadPipeline._process_epoch

    @functools.wraps(orig_epoch)
    def epoch(self, batch_df, epoch_id):
        rec.unit = int(epoch_id)
        with rec.span("streaming.epoch"):
            return orig_epoch(self, batch_df, epoch_id)

    StreamingLoadPipeline._process_epoch = epoch
