"""The DQ workloads: a full five-stage ``DQEngine.run`` over a seeded
lineitem table (batch) or a parquet file stream (``foreach_batch_dq``),
and the hand-written run that computes the same five stages in plain
DataFrame code. The hand-written counts are the expected values every
engine run is checked against."""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_expectations_spark import DQConfig, DQEngine, RuleSet, WriterOptions
from spark_expectations_spark import streaming
from spark_expectations_spark.core.rules import Rule
from spark_expectations_spark.queries import lineitem_row_rules

from . import datagen

STAGES = ("source_agg_dq", "source_query_dq", "row_dq", "target_agg_dq",
          "target_query_dq")


def rules() -> list[Rule]:
    """Row rules from the catalog plus source and target agg/query rules,
    so all five stages run."""
    def agg(name, col, exp, source=True, target=False):
        return Rule("perfbench", "lineitem", "agg_dq", name, col, exp,
                    enable_for_source_dq_validation=source,
                    enable_for_target_dq_validation=target)

    def query(name, exp, source=True, target=False):
        return Rule("perfbench", "lineitem", "query_dq", name, "", exp,
                    enable_for_source_dq_validation=source,
                    enable_for_target_dq_validation=target)

    return lineitem_row_rules() + [
        agg("cnt_pos", "", "count(*) > 0"),
        agg("avg_disc", "l_discount", "avg(l_discount) between 0 and 0.1"),
        agg("qty_sum", "l_quantity", "sum(l_quantity) > 0"),
        agg("final_max_disc", "l_discount", "max(l_discount) <= 0.05",
            source=False, target=True),
        agg("final_cnt", "", "count(*) > 0", source=False, target=True),
        query("orders_cover", "(select count(*) from orders) >= "
              "(select count(distinct l_orderkey) from lineitem)"),
        query("final_not_larger", "(select count(*) from lineitem_final) <= "
              "(select count(*) from lineitem)", source=False, target=True),
        query("final_orders_ref",
              "(select count(*) from lineitem_final f left anti join orders o "
              "on f.l_orderkey = o.o_orderkey) = 0", source=False, target=True),
    ]


def _num(v):
    return None if v is None else float(v)


def engine_counts(res) -> dict:
    def agg(results):
        return {r.rule.rule: [r.status, _num(r.actual_value)] for r in results}

    def query(results):
        return {r.rule.rule: r.status for r in results}

    return {
        "input": res.input_count, "error": res.error_count,
        "output": res.output_count,
        "rules": {k: int(v) for k, v in res.row_summary.rule_failed_counts.items()},
        "source_agg": agg(res.source_agg), "target_agg": agg(res.target_agg),
        "source_query": query(res.source_query),
        "target_query": query(res.target_query),
    }


def mismatches(got: dict, want: dict, path: str = "") -> list[str]:
    """Differences between two count trees; floats compare to 1e-9 relative
    (the engine and the hand-written run sum in different orders)."""
    if isinstance(want, dict) and isinstance(got, dict):
        keys = sorted(set(got) | set(want))
        return [m for k in keys
                for m in mismatches(got.get(k), want.get(k), f"{path}/{k}")]
    if isinstance(want, list) and isinstance(got, list) and len(got) == len(want):
        return [m for i, (g, w) in enumerate(zip(got, want))
                for m in mismatches(g, w, f"{path}[{i}]")]
    if isinstance(want, float) and isinstance(got, float):
        return [] if math.isclose(got, want, rel_tol=1e-9) else [f"{path}: {got} != {want}"]
    return [] if got == want else [f"{path}: {got} != {want}"]


def skipped_stages(res) -> list[str]:
    return [s for s in STAGES if res.status.get(s, "Skipped") == "Skipped"]


def _sink(base: str) -> WriterOptions:
    return WriterOptions(format="parquet", mode="overwrite", path=base)


def hand_written(spark, li, od, out: str, detailed: bool) -> dict:
    """The five checks as an engineer would write them without the
    engine; writes the same error, stats and detailed-stats tables and
    materializes the final frame to the noop sink."""
    li.createOrReplaceTempView("lineitem")
    od.createOrReplaceTempView("orders")
    flags = {
        "qty_range": ~F.coalesce(F.col("l_quantity").between(1, 50), F.lit(False)),
        "disc_low": ~F.coalesce(F.col("l_discount").between(0, 0.05), F.lit(False)),
        "price_pos": ~F.coalesce(F.col("l_extendedprice") > 0, F.lit(False)),
        "ship_notnull": F.col("l_shipdate").isNull(),
        "pk_unique": F.count(F.lit(1)).over(
            Window.partitionBy("l_orderkey", "l_linenumber")) != 1,
    }
    flagged = li.select("*", *[c.alias(f"f_{k}") for k, c in flags.items()])
    any_fail = F.lit(False)
    for k in flags:
        any_fail = any_fail | F.col(f"f_{k}")
    s = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(any_fail.cast("long")).alias("errors"),
        F.sum(F.col("f_disc_low").cast("long")).alias("drops"),
        *[F.sum(F.col(f"f_{k}").cast("long")).alias(k) for k in flags],
    ).first()
    src = li.agg(F.count(F.lit(1)).alias("cnt"), F.avg("l_discount").alias("avg"),
                 F.sum("l_quantity").alias("qty")).first()
    cover = spark.sql(
        "select (select count(*) from orders) >= "
        "(select count(distinct l_orderkey) from lineitem)").first()[0]
    if s["errors"]:
        (flagged.filter(any_fail)
         .withColumn("failed_rules", F.array_compact(F.array(*[
             F.when(F.col(f"f_{k}"), F.lit(k)) for k in flags])))
         .drop(*[f"f_{k}" for k in flags])
         .withColumn("run_id", F.lit("hand"))
         .withColumn("run_ts", F.current_timestamp())
         .write.mode("overwrite").parquet(f"{out}/lineitem_error"))
    final = flagged.filter(~F.col("f_disc_low")).drop(*[f"f_{k}" for k in flags])
    tgt = final.agg(F.max("l_discount").alias("max"),
                    F.count(F.lit(1)).alias("cnt")).first()
    final.createOrReplaceTempView("lineitem_final")
    not_larger, orders_ref = spark.sql(
        "select (select count(*) from lineitem_final) <= "
        "(select count(*) from lineitem), "
        "(select count(*) from lineitem_final f left anti join orders o "
        "on f.l_orderkey = o.o_orderkey) = 0").first()
    final.write.format("noop").mode("overwrite").save()

    status = lambda ok: "pass" if ok else "fail"  # noqa: E731
    counts = {
        "input": s["n"], "error": s["errors"], "output": s["n"] - s["drops"],
        "rules": {k: s[k] for k in flags},
        "source_agg": {
            "cnt_pos": [status(src["cnt"] > 0), float(src["cnt"])],
            "avg_disc": [status(0 <= src["avg"] <= 0.1), src["avg"]],
            "qty_sum": [status(src["qty"] > 0), src["qty"]],
        },
        "target_agg": {
            "final_max_disc": [status(tgt["max"] <= 0.05), tgt["max"]],
            "final_cnt": [status(tgt["cnt"] > 0), float(tgt["cnt"])],
        },
        "source_query": {"orders_cover": status(cover)},
        "target_query": {"final_not_larger": status(not_larger),
                         "final_orders_ref": status(orders_ref)},
    }
    spark.createDataFrame([(json.dumps(counts),)], "stats string").write.mode(
        "overwrite").parquet(f"{out}/lineitem_stats")
    if detailed:
        spark.createDataFrame(
            [(k, int(v)) for k, v in counts["rules"].items()],
            "rule string, failed_row_count long",
        ).write.mode("overwrite").parquet(f"{out}/lineitem_stats_detailed")
    return counts


@dataclass
class BatchSpec:
    fail_rate: float
    drop_rate: float
    detailed_stats: bool


BATCH_SPECS = {
    "dq_batch_clean": BatchSpec(0.005, 0.001, False),
    "dq_batch_dirty": BatchSpec(0.40, 0.20, True),
}


class DQBatch:
    """One engine run = ``run()`` through the noop write of ``final_df``
    and ``stats_record()``."""

    def __init__(self, spark, tracer, work: str, seed: int, n_rows: int,
                 files: int, spec: BatchSpec):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.n_rows, self.files, self.spec = seed, n_rows, files, spec
        self.expected: dict = {}

    def setup(self) -> None:
        datagen.write_dq_tables(self.spark, f"{self.work}/in", self.n_rows,
                                self.seed, fail_rate=self.spec.fail_rate,
                                drop_rate=self.spec.drop_rate, files=self.files)
        self.li = self.spark.read.parquet(f"{self.work}/in/lineitem.parquet")
        self.od = self.spark.read.parquet(f"{self.work}/in/orders.parquet")
        self.rules = RuleSet(rules())
        self.config = DQConfig(
            product_id="perfbench", table_name="lineitem",
            source_view="lineitem", target_view="lineitem_final",
            views={"orders": self.od},
            write_error_table=True, error_writer=_sink(f"{self.work}/engine"),
            write_stats_table=True, stats_writer=_sink(f"{self.work}/engine"),
            enable_detailed_stats=self.spec.detailed_stats)
        self.expected = self.hand_run()[1]
        self.engine_run()

    def hand_run(self) -> tuple[float, dict]:
        t0 = time.perf_counter()
        counts = hand_written(self.spark, self.li, self.od, f"{self.work}/hand",
                              self.spec.detailed_stats)
        return time.perf_counter() - t0, counts

    def engine_run(self) -> tuple[float, list[str]]:
        """Seconds of one run and the list of problems found in it."""
        t0 = time.perf_counter()
        res = DQEngine(self.config).run(self.li, self.rules, self.spark)
        with self.tracer.span("final_write", "final_df.noop"):
            res.final_df.write.format("noop").mode("overwrite").save()
        res.stats_record()
        dt = time.perf_counter() - t0
        problems = [f"stage {s} skipped" for s in skipped_stages(res)]
        problems += mismatches(engine_counts(res), self.expected)
        if res.error_count:
            n = self.spark.read.parquet(f"{self.work}/engine/lineitem_error").count()
            if n != res.error_count:
                problems.append(f"error table rows {n} != {res.error_count}")
        return dt, problems


#: untimed files the stream takes before the timed window
WARM_FILES = 3


def _merge_counts(acc: dict, c: dict) -> dict:
    """Sum the additive counts of per-batch results."""
    if not acc:
        return {"input": c["input"], "error": c["error"], "output": c["output"],
                "rules": dict(c["rules"])}
    out = {k: acc[k] + c[k] for k in ("input", "error", "output")}
    out["rules"] = {k: acc["rules"].get(k, 0) + v for k, v in c["rules"].items()}
    return out


class DQStream:
    """Open loop: a generator thread moves one pre-made file into the
    source directory every ``interval`` seconds; latency of a file runs
    from its scheduled arrival to the end of ``on_result`` for the
    micro-batch that holds it."""

    def __init__(self, spark, tracer, work: str, seed: int, rows_per_file: int,
                 interval: float, max_files: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.rows_per_file, self.interval, self.max_files = rows_per_file, interval, max_files
        self.src, self.ckpt = f"{work}/src", f"{work}/ckpt"
        self.query = None
        self.lock = threading.Lock()
        self.scheduled: dict[str, float] = {}
        self.latency: list[tuple[float, bool]] = []
        self.batch_ids: list[int] = []
        self.processed: set[str] = set()
        self.problems: list[str] = []
        self.totals: dict = {}
        self.backlog_max = 0
        self.lag_max = 0.0
        self.traced_rows = 0
        self.traced_batches: set[int] = set()
        self.delivered: list[str] = []
        self.toggle_trace = False

    def setup(self) -> None:
        n_files = self.max_files + WARM_FILES
        datagen.lineitem(self.spark, n_files * self.rows_per_file, self.seed,
                         fail_rate=0.05, drop_rate=0.02, files=n_files
                         ).write.mode("overwrite").parquet(f"{self.work}/stage")
        datagen.orders(self.spark, math.ceil(n_files * self.rows_per_file / 4),
                       self.seed, 1).write.mode("overwrite").parquet(
                           f"{self.work}/orders")
        self.od = self.spark.read.parquet(f"{self.work}/orders")
        # the stream runs each batch in a clone of this session, made at
        # start: views registered here are visible there, views registered
        # from DQConfig.views per batch are not
        self.od.createOrReplaceTempView("orders")
        self.staged = datagen.parquet_files(f"{self.work}/stage")
        os.makedirs(self.src)
        schema = self.spark.read.parquet(self.staged[0]).schema
        self.config = DQConfig(
            product_id="perfbench", table_name="lineitem",
            source_view="lineitem", target_view="lineitem_final",
            write_error_table=True,
            error_writer=WriterOptions(format="parquet", mode="append",
                                       path=f"{self.work}/engine"))
        self.rules = RuleSet(rules())
        stream_df = self.spark.readStream.schema(schema).parquet(self.src)
        self.query = streaming.foreach_batch_dq(
            stream_df, self.rules, self.config, on_result=self._on_result,
            checkpoint_location=self.ckpt, query_name="perfbench_stream")
        # warm-up: the first files go through the whole path untimed, one
        # micro-batch each; the first batches run well above the steady cost
        for path in self.staged[:WARM_FILES]:
            if not self._wait_for({self._move(path)}, timeout=120):
                raise RuntimeError("stream did not take a warm-up file")
        with self.lock:
            self.latency.clear()
            self.totals = {}
            self.batch_ids.clear()
            self.traced_rows = 0
            self.traced_batches.clear()

    def _move(self, path: str) -> str:
        dst = os.path.join(self.src, os.path.basename(path))
        os.rename(path, dst)
        return os.path.basename(path)

    def _batch_files(self, batch_id: int) -> list[str]:
        """Files of one micro-batch, from the file source's metadata log
        (every tenth entry is a compaction of all earlier ones)."""
        log = f"{self.ckpt}/sources/0/{batch_id}"
        if not os.path.exists(log):
            log += ".compact"
        with open(log) as fh:
            entries = [json.loads(line) for line in fh.read().splitlines()[1:] if line]
        return [os.path.basename(e["path"]) for e in entries
                if e["batchId"] == batch_id]

    def _on_result(self, batch_id: int, res) -> None:
        traced = self.tracer.enabled
        with self.tracer.span("final_write", "final_df.noop"):
            res.final_df.write.format("noop").mode("overwrite").save()
        res.stats_record()
        end = time.time()
        files = self._batch_files(batch_id)
        with self.lock:
            for f in files:
                if f in self.scheduled:
                    self.latency.append((end - self.scheduled[f], traced))
            self.processed.update(files)
            self.batch_ids.append(batch_id)
            self.problems += [f"batch {batch_id}: stage {s} skipped"
                              for s in skipped_stages(res)]
            self.problems += [f"batch {batch_id}: {r.rule.rule} failed"
                              for r in res.source_query + res.target_query
                              if r.status != "pass"]
            self.totals = _merge_counts(self.totals, engine_counts(res))
            if traced:
                self.traced_rows += res.input_count
                self.traced_batches.add(batch_id)
        if self.toggle_trace:
            self.tracer.enabled = not self.tracer.enabled

    def _wait_for(self, files: set[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if files <= self.processed:
                    return True
            exc = self.query.exception()
            if exc is not None:
                raise RuntimeError(f"stream failed: {exc}")
            time.sleep(0.02)
        return False

    def run_window(self, seconds: float) -> None:
        """Deliver files on schedule for ``seconds``, then drain."""
        t0 = time.time() + 0.05
        moved: list[str] = []
        for i, path in enumerate(self.staged[WARM_FILES:]):
            due = t0 + i * self.interval
            if due > t0 + seconds:
                break
            time.sleep(max(0.0, due - time.time()))
            name = os.path.basename(path)
            with self.lock:
                self.scheduled[name] = due
                self.backlog_max = max(self.backlog_max, len(
                    [f for f in moved if f not in self.processed]) + 1)
            self._move(path)
            self.lag_max = max(self.lag_max, time.time() - due)
            moved.append(name)
        if not self._wait_for(set(moved), timeout=90):
            self.problems.append("stream did not drain the delivered files")
        self.delivered = moved

    def check_totals(self, corrupt: bool = False) -> list[str]:
        """Stream totals over the delivered files against a hand-written
        batch run over the same files."""
        li = self.spark.read.parquet(*[os.path.join(self.src, f) for f in self.delivered])
        want = hand_written(self.spark, li, self.od, f"{self.work}/hand", False)
        want = {k: want[k] for k in ("input", "error", "output", "rules")}
        if corrupt:
            want["error"] += 1
        return self.problems + mismatches(self.totals, want)

    def progress(self, timeout: float = 10.0) -> list[dict]:
        """Progress reports of the timed micro-batches, one each. A batch's
        report is posted after its on_result returns, so wait for the last;
        idle reports (no addBatch) reuse the next batch's id and are skipped."""
        ids = set(self.batch_ids)
        deadline = time.time() + timeout
        while True:
            got = {p["batchId"]: p for p in self.query.recentProgress
                   if p["batchId"] in ids and "addBatch" in p["durationMs"]}
            if len(got) == len(ids) or time.time() > deadline:
                return [got[i] for i in sorted(got)]
            time.sleep(0.05)

    def stop(self) -> None:
        try:
            if self.query is not None:
                self.query.stop()
        finally:
            shutil.rmtree(self.ckpt, ignore_errors=True)
