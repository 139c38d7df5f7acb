"""Benchmark of the DQ engine and the heavy operator layers.

    python3 perfbench/run.py --workload dq_stream --seed 1 --seconds 15 --trace 0

Workloads:

* ``dq_stream`` — ``streaming.foreach_batch_dq`` (the full five-stage
  engine per micro-batch) over a parquet file source fed by an open-loop
  generator thread: one 5 k-row file every 3 s, after three untimed
  warm-up files. One operation is one delivered file; its time runs
  from the file's scheduled arrival to the end of ``on_result`` for the
  micro-batch that holds it.
* ``ops_catalog`` — one pass over six heavy catalog entries (graph,
  linkage, dedup, similarity layers) after one cold pass, which compiles
  the entries side by side and checks their rows against DuckDB. One
  operation is one pass; a pass starts only if it ends inside the window
  (judged by the last pass), so a 15–21 s pass runs once in 15 s.
* ``dq_batch_clean`` / ``dq_batch_dirty`` — a full five-stage
  ``DQEngine.run`` over a seeded lineitem table with ~0.5 % / ~40 %
  failing rows, alternating with a hand-written run of the same checks.
  One operation is one engine run. Not in BENCHMARK.json: with their
  cold set-up, a run of either does not fit the benchmark's time budget
  next to the two workloads above; run them by hand.

The session runs on ``local[<cores>]`` with a driver heap sized from the
host. Every input is generated from ``--seed`` under a scratch directory
of the checkout, which is removed on exit. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with the metrics that
BENCHMARK.json declares: end-to-end with ``--trace 0``, per-layer (from
``trace.Tracer``) with ``--trace 1``. The line before it holds the full
detail: host, sample counts and every per-workload and per-layer number.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

#: job tag of the timed engine runs of the batch workloads, whose window
#: also holds the hand-written runs
TIMED_TAG = "pbtimed"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("dq_stream", "ops_catalog", "dq_batch_clean", "dq_batch_dirty")

#: input sizes per scale; "tiny" is for the smoke test
SCALES = {
    "full": dict(batch_rows=600_000, stream_rows=5_000, stream_interval=3.0,
                 docs=400, vecs=400, lines=24_000),
    "tiny": dict(batch_rows=20_000, stream_rows=1_000, stream_interval=0.5,
                 docs=120, vecs=120, lines=4_000),
}


# ------------------------------------------------------------------ host
def host_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    mem_mb = mem // 2**20
    # a quarter of the host, within [1, 8] GB: the host is shared
    heap_mb = max(1024, min(8192, mem_mb // 4))
    return {"cores": cores, "memory_mb": mem_mb, "driver_heap_mb": heap_mb,
            "python": platform.python_version()}


def start_session(host: dict, work: str):
    from pyspark.sql import SparkSession

    from spark_expectations_spark.session import configure, scale_confs

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    # every file Spark, the JVM and Python write stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    confs = scale_confs("local-dev", total_cores=host["cores"])
    confs.update({
        "spark.driver.memory": f"{host['driver_heap_mb']}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # Python workers import the package from the checkout, whatever
        # the working directory
        "spark.executorEnv.PYTHONPATH": ROOT,
        # keep every job of a run in the status store for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    })
    spark = configure(SparkSession.builder.master(f"local[{host['cores']}]")
                      .appName("perfbench"), confs).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, start time) of every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            out[int(entry)] = (int(fields[1]), fields[19])
    return out


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below ``root``."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1]
        todo += children.get(pid, [])
    return out


def _alive(procs: dict[int, str]) -> dict[int, str]:
    """The processes of ``procs`` still running (same pid, same start)."""
    table = _proc_table()
    return {pid: st for pid, st in procs.items()
            if pid in table and table[pid][1] == st}


def stop_spark(spark) -> None:
    """Stop the session (if one was made), the JVM (if one was launched)
    and every process under it (the Python daemon and its workers), and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs.update(descendants(os.getpid()))
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM is stopped below
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # wait for the rest to end on their own, then terminate, then kill
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            for pid in _alive(procs) if sig else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
            while _alive(procs) and time.time() < deadline:
                time.sleep(0.1)


class RssSampler:
    """Peak resident memory of the driver JVM and its Python workers."""

    def __init__(self, pid: int):
        self.pid, self.peak_kb = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_kb(self) -> int:
        total = 0
        for pid in [self.pid, *descendants(self.pid)]:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_kb())


# ------------------------------------------------------------- statistics
def pct(xs: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation); the median for q=50."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def timing(name: str, xs: list[float], out: dict) -> None:
    """Median and 90th percentile of a timing, with its sample count."""
    out[f"{name}.p50"] = pct(xs, 50)
    out[f"{name}.p90"] = pct(xs, 90)
    out[f"{name}.n"] = len(xs)


class Outcome:
    def __init__(self):
        self.attempted = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.problems.append("; ".join(problems))

    @property
    def failed(self) -> int:
        return len(self.problems)


def guarded(fn, outcome: Outcome):
    """Run one operation; an exception is a failed operation."""
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 - counted and reported
        traceback.print_exc(file=sys.stderr)
        outcome.record([f"{type(exc).__name__}: {exc}"])
        return None


# -------------------------------------------------------------- workloads
@dataclass
class Measured:
    setup_s: float
    ops: list            # untraced operation times: the end-to-end samples
    traced: list         # traced operation times (trace mode only)
    traced_rows: int     # input rows of the traced operations
    window: tuple        # (start, end) epoch seconds of the timed window
    tag: str | None = None  # if set, cpu_s counts only jobs with this tag


def run_batch(args, spark, tracer, work, host, scale, outcome, detail):
    from perfbench import dq

    wl = dq.DQBatch(spark, tracer, work, args.seed, scale["batch_rows"],
                    max(host["cores"], 4), dq.BATCH_SPECS[args.workload])
    t0 = time.perf_counter()
    wl.setup()
    setup_s = time.perf_counter() - t0
    if args.corrupt_expected:
        wl.expected["error"] += 1
    runs = {True: [], False: []}
    hand: list[float] = []
    sc = spark.sparkContext
    w0 = time.time()
    end = time.perf_counter() + args.seconds
    i = 0
    # engine and hand-written runs alternate; in trace mode traced and
    # untraced engine runs alternate instead
    while outcome.failed < 3 and (time.perf_counter() < end or not runs[False]
                                  or not (hand or args.trace)):
        if args.trace or i % 2 == 0:
            traced = bool(args.trace) and i % 2 == 0
            tracer.enabled = traced
            if not traced:
                sc.addJobTag(TIMED_TAG)
            r = guarded(wl.engine_run, outcome)
            sc.removeJobTag(TIMED_TAG)
            tracer.enabled = False
            if r is not None:
                runs[traced].append(r[0])
                outcome.record(r[1])
        else:
            r = guarded(wl.hand_run, outcome)
            if r is not None:
                hand.append(r[0])
                outcome.record(dq.mismatches(r[1], wl.expected))
        i += 1
    timing("dq_run_s", runs[False], detail)
    detail["rows_per_s"] = wl.n_rows / detail["dq_run_s.p50"]
    if hand:
        detail["handwritten_s.p50"] = statistics.median(hand)
        detail["overhead_x"] = detail["dq_run_s.p50"] / detail["handwritten_s.p50"]
    detail["expected"] = wl.expected
    return Measured(setup_s, runs[False], runs[True], wl.n_rows * len(runs[True]),
                    (w0, time.time()), TIMED_TAG)


def run_stream(args, spark, tracer, work, host, scale, outcome, detail):
    from perfbench import dq

    interval = scale["stream_interval"]
    wl = dq.DQStream(spark, tracer, work, args.seed, scale["stream_rows"],
                     interval, int(args.seconds / interval) + 2)
    try:
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.toggle_trace = bool(args.trace)
        tracer.enabled = bool(args.trace)
        w0 = time.time()
        wl.run_window(args.seconds)
        w1 = time.time()
        tracer.enabled = False
        progress = wl.progress()
        problems = wl.check_totals(args.corrupt_expected)
    finally:
        wl.stop()
    # one operation per delivered file; a problem fails one of them
    for k, _ in enumerate(wl.delivered):
        outcome.record(problems if k == 0 else [])
    # the streaming layer per micro-batch, from the progress reports:
    # addBatch is the foreachBatch call (engine run and on_result)
    traced_progress = [p for p in progress if p["batchId"] in wl.traced_batches]

    def dur(key, reports=progress):
        return statistics.mean([p["durationMs"].get(key, 0) / 1e3
                                for p in reports] or [0.0])

    untraced = [lat for lat, t in wl.latency if not t]
    timing("batch_latency_s", untraced, detail)
    detail.update({
        "files": len(wl.delivered), "batches": len(progress),
        "streaming.busy_s": dur("addBatch", traced_progress),
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.planning_s": dur("queryPlanning"),
        "latencies_s": [round(x, 3) for x in untraced],
        "batch_s": [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress],
        "streaming.backlog_files.max": wl.backlog_max,
        "streaming.generator_lag_s.max": wl.lag_max,
        "rows_per_s": (scale["stream_rows"] * len(wl.delivered)
                       / max(dur("addBatch") * len(progress), 1e-9)),
    })
    return Measured(setup_s, untraced, [lat for lat, t in wl.latency if t],
                    wl.traced_rows, (w0, w1))


def run_ops(args, spark, tracer, work, host, scale, outcome, detail):
    from perfbench import catalog

    wl = catalog.OpsCatalog(spark, tracer, work, scale["docs"], scale["vecs"],
                            scale["lines"], max(host["cores"], 4))
    t0 = time.perf_counter()
    wl.setup()
    setup_s = time.perf_counter() - t0
    problems = wl.check(args.corrupt_expected)
    passes = {True: [], False: []}
    w0 = time.time()
    start = time.perf_counter()
    i, last = 0, 0.0
    # a pass starts only if, by the last pass's time, it ends inside the
    # window; each kind (traced, untraced) runs at least once
    while outcome.failed < 3 and (
            not passes[False] or (args.trace and not passes[True])
            or time.perf_counter() - start + last <= args.seconds):
        traced = bool(args.trace) and i % 2 == 0
        tracer.enabled = traced
        dt = guarded(wl.run_pass, outcome)
        tracer.enabled = False
        if dt is not None:
            passes[traced].append(dt)
            last = dt
        i += 1
    for k in range(len(passes[True]) + len(passes[False])):
        outcome.record(problems if k == 0 else [])
    timing("roster_s", passes[False], detail)
    n = len(passes[True]) + len(passes[False])
    detail["leaked_rdds_per_pass"] = {k: v / max(n, 1) for k, v in wl.leaked_rdds.items()}
    detail["entry_s.p50"] = {k: pct(v, 50) for k, v in wl.entry_s.items() if v}
    return Measured(setup_s, passes[False], passes[True], 0, (w0, time.time()))


RUNNERS = {"dq_batch_clean": run_batch, "dq_batch_dirty": run_batch,
           "dq_stream": run_stream, "ops_catalog": run_ops}


# ---------------------------------------------------------------- metrics
def end_to_end(spark, m: Measured) -> dict:
    from perfbench.trace import executor_cpu_s

    return {"setup_s": m.setup_s,
            "cpu_s": executor_cpu_s(spark.sparkContext, *m.window, m.tag) / len(m.ops)}


def per_layer(tracer, cores: int, m: Measured, detail: dict) -> dict:
    """Layer totals per traced operation, plus the derived shares."""
    from perfbench.trace import DQ_LAYERS, LAYERS, OPS_LAYERS

    tracer.collect()
    totals = tracer.layer_totals(cores)
    n = max(len(m.traced), 1)
    out: dict[str, float] = {}
    for layer in LAYERS:
        for k, v in totals[layer].items():
            out[f"{layer}.{k}"] = v / n
    rows = max(m.traced_rows, 1)
    out["operators.row_dq.input_reads_per_row"] = (
        totals["operators.row_dq"]["input_records"] / rows)
    out["dq_input_reads_per_row"] = (
        sum(t["input_records"] for layer, t in totals.items()
            if layer in DQ_LAYERS) / rows)
    for k in ("streaming.busy_s", "streaming.trigger_s", "streaming.planning_s",
              "streaming.backlog_files.max", "streaming.generator_lag_s.max"):
        out[k] = detail.get(k, 0.0)
    leaked = detail.get("leaked_rdds_per_pass", {})
    for layer in OPS_LAYERS:
        out[f"{layer}.leaked_rdds"] = leaked.get(layer, 0.0)
    out["trace_overhead_s"] = pct(m.traced, 50) - pct(m.ops, 50)
    # driver-side share of a DQ operation: rule handling, the engine's own
    # code and (streaming) query planning
    op_s = out["core.engine.busy_s"] + out["final_write.busy_s"]
    driver = (out["core.rules.busy_s"] + out["core.engine.self_s"]
              + out["streaming.planning_s"])
    out["driver_share"] = driver / op_s if op_s else 0.0
    dq_busy = {x: out[f"{x}.busy_s"] for x in DQ_LAYERS}
    if any(dq_busy.values()):
        detail["dominant_dq_layer"] = max(dq_busy, key=dq_busy.get)
    return out


def declared_metrics(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def unit_of(name: str) -> str:
    if name.endswith(("_s", "_s.p50", "_s.p90", "_s.max")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_per_row", "_share")):
        return "ratio"
    return "count"


# ------------------------------------------------------------------- main
def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="full")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="add one to an expected count (self-test of the checks)")
    return p.parse_args(argv)


def leaks(spark) -> list[str]:
    out = []
    if spark.streams.active:
        out.append(f"{len(spark.streams.active)} active streaming queries")
    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    if n:
        out.append(f"{n} persisted RDDs")
    if spark.sparkContext.getJobTags():
        out.append(f"job tags left: {sorted(spark.sparkContext.getJobTags())}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a termination signal unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = declared_metrics("per_layer" if args.trace else "end_to_end")
    import pyspark

    import spark_expectations_spark
    from perfbench.trace import Tracer

    if not spark_expectations_spark.__file__.startswith(ROOT + os.sep):
        raise SystemExit(f"spark_expectations_spark is not imported from "
                         f"{ROOT}: {spark_expectations_spark.__file__}")

    host = host_info()
    host["spark"] = pyspark.__version__
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "host": host}
    outcome = Outcome()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        spark = start_session(host, work)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        if args.trace:
            tracer.install()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with RssSampler(jvm_pid) as rss:
            measured = RUNNERS[args.workload](
                args, spark, tracer, work, host, SCALES[args.scale], outcome,
                detail)
        measured.setup_s += session_s
        outcome.record(leaks(spark))
        if args.trace:
            layers = per_layer(tracer, host["cores"], measured, detail)
            detail["layers"] = layers
            metrics = {k: layers[k] for k in names}
        else:
            e2e = end_to_end(spark, measured)
            metrics = {k: e2e[k] for k in names}
    finally:
        try:
            if tracer is not None:
                tracer.uninstall()
        finally:
            stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)
    detail.update({"setup_s": measured.setup_s, "session_s": session_s,
                   "op_s.p50": pct(measured.ops, 50), "op_s.p90": pct(measured.ops, 90),
                   "op_s.n": len(measured.ops),
                   "peak_rss_mb": rss.peak_kb / 1024,
                   "fail_ratio": outcome.failed / outcome.attempted,
                   "problems": outcome.problems[:20]})
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not outcome.problems,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
