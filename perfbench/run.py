"""Load-path benchmark for cdf_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Makes the workload's inputs from the
seed, starts one local Spark session (local[nproc], shuffle partitions
= nproc, BLAS threads = 1), sets up three times (session start plus one
warm-up unit; only the first launches the JVM, and its time from process
start is ``cold_setup_s``), runs a fixed amount of work sized by ``--seconds``,
checks the outputs against an engine-independent DuckDB oracle, and
prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
the span wrappers (spans.py) and reports the per-layer metrics
instead, writing the spans as JSONL next to the run's result file under
``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

from spans import LAYERS, Recorder, install, metric_names  # noqa: E402
from workloads import WORKLOADS, OperatorQueries  # noqa: E402

ROOT = os.getcwd()
SETUPS = 3  # set-up repetitions per run; setup_s is their median
UNIT_DEADLINE_S = 30.0
RUN_BUDGET_S = 120.0  # no unit starts later than this after process start
# a fixed-size driver heap (-Xms = -Xmx), so G1 heap resizing does not
# make the peak RSS differ from run to run
DRIVER_HEAP = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else (os.cpu_count() or 1)


def configure_env(work: str) -> None:
    n = str(cpus())
    os.environ["SPARK_GRAFT_CPUS"] = n
    for var in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included, keeps its files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(work: str, trace: bool):
    from cdf_spark.session import get_spark

    n = str(cpus())
    conf = {
        "spark.sql.shuffle.partitions": n,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", master=f"local[{n}]", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def guarded(spark, fn, tag: str, deadline_s: float, watchdog=None):
    """Run ``fn(spark)`` in its own thread under a deadline. On expiry
    the thread's Spark jobs (tagged ``tag``) are cancelled and the unit
    counts as failed. Returns (result, seconds, error)."""
    from pyspark import InheritableThread

    sc = spark.sparkContext
    box: dict = {}

    def body():
        sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            box["result"] = fn(spark)
        except Exception as e:  # noqa: BLE001 - any engine error fails the unit
            box["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            box["seconds"] = time.perf_counter() - t0
            sc.removeJobTag(tag)

    th = InheritableThread(target=body, daemon=True)
    t_start = time.perf_counter()
    th.start()
    while th.is_alive():
        th.join(0.2)
        over = time.perf_counter() - t_start > deadline_s
        if th.is_alive() and (over or (watchdog is not None and watchdog())):
            for q in spark.streams.active:
                q.stop()
            sc.cancelJobsWithTag(tag)
            th.join(10.0)
            return None, time.perf_counter() - t_start, "deadline expired"
    return box.get("result"), box["seconds"], box.get("error")


def reset_hwm(pid) -> None:
    """Reset the process's peak-RSS mark to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_kib(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants
    (the Spark JVM and its Python workers descend from this process)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    keep = {root}
    grew = True
    while grew:
        new = {p for p, (ppid, _) in procs.items() if ppid in keep and p not in keep}
        keep |= new
        grew = bool(new)
    return sum(procs[p][1] for p in keep if p in procs) / os.sysconf("SC_CLK_TCK")


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return os.environ.get("GIT_COMMIT", "unknown")


class EpochClock:
    """Timestamps around StreamingLoadPipeline._process_epoch, patched
    on the class: the streaming unit times and the per-epoch deadline
    come from it."""

    def __init__(self):
        self.starts: dict = {}
        self.ends: dict = {}

    def install(self) -> None:
        from cdf_spark.streaming.pipeline import StreamingLoadPipeline

        orig = StreamingLoadPipeline._process_epoch
        clock = self

        def timed(pipeline, batch_df, epoch_id):
            clock.starts[int(epoch_id)] = time.perf_counter()
            try:
                return orig(pipeline, batch_df, epoch_id)
            finally:
                clock.ends[int(epoch_id)] = time.perf_counter()

        StreamingLoadPipeline._process_epoch = timed

    def reset(self) -> None:
        self.starts.clear()
        self.ends.clear()

    def stuck(self) -> bool:
        open_ = [e for e in self.starts if e not in self.ends]
        return bool(open_) and time.perf_counter() - self.starts[max(open_)] > UNIT_DEADLINE_S


def measure(w, spark, rec, clock) -> tuple[dict, dict, list, float]:
    """Run the measured units. Returns (unit_seconds, counts, errors,
    wall_s); a unit missing from unit_seconds failed."""
    seconds: dict = {}
    counts: dict = {}
    errors: list = []
    if hasattr(w, "drain"):
        # one DRAIN; a unit is an epoch, timed from the previous epoch's end
        clock.reset()
        t0 = time.perf_counter()
        _, wall, err = guarded(spark, w.drain, "perfbench-drain", budget_left(), clock.stuck)
        if err:
            errors.append(("drain", err))
        prev = t0
        for e in sorted(clock.ends):
            seconds[e] = clock.ends[e] - prev
            prev = clock.ends[e]
        counts = dict(enumerate(w.epoch_counts()))
        return seconds, counts, errors, wall
    for uid, fn in w.units():
        if budget_left() <= 0:
            errors.append((uid, "run budget spent before the unit started"))
            continue
        if rec is not None:
            rec.unit = uid
            if hasattr(w, "unit_span"):
                fn = functools.partial(_in_span, rec, w.unit_span(uid), fn)
        result, secs, err = guarded(spark, fn, f"perfbench-unit-{uid}", min(UNIT_DEADLINE_S, budget_left()))
        if err:
            errors.append((uid, err))
            continue
        seconds[uid] = secs
        counts[uid] = result
        w.after_unit(uid)
    return seconds, counts, errors, sum(seconds.values())


def budget_left() -> float:
    return RUN_BUDGET_S - (time.perf_counter() - T_PROCESS)


def _in_span(rec, name, fn, spark):
    with rec.span(name):
        return fn(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import cdf_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if args.seconds < 1:
        log("--seconds must be at least 1")
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    configure_env(work)
    trace = bool(args.trace)

    w = WORKLOADS[args.workload](args.seed, work, args.seconds)
    t = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t
    log(f"{w.name}: generated inputs in {gen_s:.2f} s (not in setup_s): {w.n_units} units")

    clock = EpochClock()
    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            t = time.perf_counter()
            spark = start_session(work, trace)
            if k == 0:
                clock.install()
                launch_s = time.perf_counter() - T_PROCESS - gen_s
            w.warmup(spark, k)
            setups.append(time.perf_counter() - t)
            if k == 0:
                # what a fresh process spends before its first timed unit:
                # the JVM launch included, input generation left out
                cold_setup_s = time.perf_counter() - T_PROCESS - gen_s
            if k < SETUPS - 1:
                spark.stop()
        setup_s = statistics.median(setups)
        log(f"setups {[round(s, 3) for s in setups]} s; process start to first session {launch_s:.2f} s, "
            f"to the end of the first warm-up unit {cold_setup_s:.2f} s")

        t = time.perf_counter()
        w.prepare(spark)
        prep_s = time.perf_counter() - t

        rec = None
        if trace:
            rec = Recorder(spark.sparkContext)
            install(rec)
        # peak RSS covers the measured phase only: not the generator,
        # the cold set-up or the checker, which share these processes
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        for pid in ("self", jvm_pid):
            reset_hwm(pid)
        t_measure = time.perf_counter()
        cpu0 = tree_cpu_s(os.getpid())
        seconds, counts, errors, wall_s = measure(w, spark, rec, clock)
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        peak_rss_mib = (vm_hwm_kib("self") + vm_hwm_kib(jvm_pid)) / 1024.0

        t = time.perf_counter()
        bad = w.check(spark, counts) if counts else {}
        check_s = time.perf_counter() - t

        attempted = w.n_units
        failed_units = set(u for u, _ in errors if u != "drain") | set(bad)
        failed_units |= set(range(attempted)) - set(seconds)
        failed = len(failed_units)
        for u, why in errors:
            log(f"unit {u} failed: {why}")
        for u, why in sorted(bad.items(), key=lambda kv: str(kv[0])):
            log(f"unit {u} failed the check: {why}")

        times = [seconds[u] for u in sorted(seconds)]
        if not times:
            log("no unit completed")
            return 1
        rows, consumed_bytes = w.consumed(len(times))
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "rows_per_s": (rows / wall_s, "rows/s"),
            "unit_s.p50": (statistics.median(times), "s"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mib": (peak_rss_mib, "MiB"),
        }
        detail = {
            "workload": w.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": trace,
            "nproc": cpus(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "git_sha": git_sha(),
            "units": attempted,
            "gen_s": gen_s,
            "launch_s": launch_s,
            "cold_setup_s": cold_setup_s,
            "setups_s": setups,
            "prepare_s": prep_s,
            "check_s": check_s,
            "unit_seconds": times,
            "source_rows": w.source_rows,
            "source_bytes": w.source_bytes,
            "bytes_written": w.bytes_written(),
            "planted_faults": w.faults,
            "failed_units": sorted(map(str, failed_units)),
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
        }
        stem = os.path.join(results, f"{w.name}-seed{args.seed}")
        metrics = e2e
        if trace:
            rec.resolve_spark_counts()
            rec.write_jsonl(stem + "-spans.jsonl", t_measure)
            write_amp = w.bytes_written() / consumed_bytes if consumed_bytes else 0.0
            metrics = per_layer(rec, seconds, write_amp, wall_s, cold_setup_s)
            detail["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        with open(stem + f"-trace{int(trace)}.json", "w") as f:
            json.dump(detail, f, indent=1, default=str)
        log(f"{w.name}: {attempted} units, {failed} failed, wall {wall_s:.3f} s")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def per_layer(rec, seconds: dict, write_amp: float, wall_s: float, cold_setup_s: float) -> dict:
    spans = LAYERS + [f"queries.{q}" for q in OperatorQueries.QUERIES]
    table = rec.layer_metrics(seconds, spans)
    extra = {"tasks_failed": rec.failed_tasks(seconds), "write_amp": write_amp, "traced_wall_s": wall_s,
             "cold_setup_s": cold_setup_s}
    out = {}
    for name, unit in metric_names(OperatorQueries.QUERIES):
        span, _, key = name.rpartition(".")
        out[name] = (extra[name] if name in extra else table[span][key], unit)
    return out


def stop(spark) -> None:
    """Stop Spark and wait for the JVM and its workers to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    done = threading.Event()

    def _stop():
        try:
            spark.stop()
        finally:
            done.set()

    threading.Thread(target=_stop, daemon=True).start()
    done.wait(20)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


if __name__ == "__main__":
    sys.exit(main())
