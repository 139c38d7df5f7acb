"""DQEngine: explicit orchestration of the five DQ stages.

Replaces the reference's decorator-tangle (core/expectations.py:893-1032 +
utils/regulate_flow.py:24-158) with one readable ``run``:

    source agg_dq → source query_dq → row_dq → target agg_dq → target query_dq

Spark-job budget per batch run (N row rules, M agg rules, Q query rules):
  1 summary aggregation — ALL counts AND all source agg rules in ONE scan
    (stage fusion: the agg-rule expressions ride the row-summary agg job)
  1 error-table write (only if errors enabled) — one scan
  1 fused agg job for ALL target agg rules (post-row-dq frame)
  1 fused SELECT per query stage (scalar subqueries; rule-scale)
  the stats writes and the final write (optional)
Spark counts more jobs than these scans: adaptive execution submits each
shuffle stage (a window rule's exchange, a partial aggregate) as a job of
its own, and every scalar subquery and table write is at least one job.
``tests/test_engine_core.py::TestEngineJobBudget`` pins the total for a
full five-stage run over sf0.001 lineitem (5 row rules, 3 agg rules, 2
query rules, error and stats writes, final frame to the noop sink): 20
jobs, 25 with ``enable_detailed_stats``. The reference runs >=4 full scans
+ 2 jobs per agg rule; at 100 TB the difference is the whole game.

The reference's ``with_expectations`` decorator lives in ``compat.py``,
with the reference's signature, on top of ``DQEngine.run``.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..connect import AnyDataFrame, AnySparkSession
from ..operators import agg_dq, query_dq, row_dq
from ..sinks import writer
from .rules import AGG_DQ, QUERY_DQ, ROW_DQ, RuleSet
from .state import DQConfig, DQResult, StageTiming, new_run_id, utcnow

log = logging.getLogger("spark_expectations_spark")


class DQEngine:
    def __init__(self, config: DQConfig):
        self.config = config

    # ------------------------------------------------------------------ api
    def run(self, df: AnyDataFrame, rules: RuleSet,
            spark: Optional[AnySparkSession] = None) -> DQResult:
        # classic OR Connect frame/session (the reference's union,
        # core/expectations.py:43-72) — the engine path is pure
        # DataFrame API; JVM-dependent extras degrade per connect.py's
        # support matrix
        cfg = self.config
        spark = spark or df.sparkSession
        hub = cfg.notifications
        if hub is not None:
            hub.on_start(cfg.product_id, cfg.table_name)
        result = DQResult(
            run_id=new_run_id(cfg.product_id),
            product_id=cfg.product_id,
            table_name=cfg.table_name,
        )
        # streaming gets the same alerting lifecycle as batch — a failed
        # stream SETUP must page like a failed batch run
        try:
            if df.isStreaming:
                result = self._run_streaming(df, rules, spark, result)
            else:
                result = self._run_batch(df, rules, spark, result)
        except Exception as e:
            if not df.isStreaming:
                # reference parity: the stats row is written on failure
                # too (sinks/utils/collect_statistics.py:21-50), carrying
                # whatever stage statuses/counts were reached before the
                # abort
                self._write_stats(spark, result, best_effort=True)
            if hub is not None:
                hub.on_failure(cfg.product_id, cfg.table_name, e)
            raise
        if hub is not None:
            hub.on_completion(result, list(rules))
        return result

    def _run_batch(self, df: DataFrame, rules: RuleSet,
                   spark: SparkSession, result: DQResult) -> DQResult:
        cfg = self.config
        settings = rules.execution_settings()
        query_dq.register_views(spark, dict(cfg.views))
        if cfg.source_view:
            df.createOrReplaceTempView(cfg.source_view)

        # -- stage 1: source agg_dq -----------------------------------------
        # Stage fusion: when row_dq is also active, the agg rules are
        # spliced into the row-summary aggregation, so agg assertions AND
        # every run count come out of ONE scan (the reference pays a scan
        # per stage). The fused job runs here so the agg fail gate fires
        # in reference order — before query_dq, before any write.
        fused_state = self._stage(result, "source_agg_dq",
                                  settings["source_agg_dq"], self._agg,
                                  df, rules, result, False, settings["row_dq"])

        # -- stage 2: source query_dq ---------------------------------------
        self._stage(result, "source_query_dq", settings["source_query_dq"],
                    self._query, spark, rules, result, False)

        # -- stage 3: row_dq ------------------------------------------------
        final_df = df
        if settings["row_dq"]:
            final_df = self._stage(result, "row_dq", True, self._row, df,
                                   rules, result, fused_state)
        else:
            result.status["row_dq"] = "Skipped"
            if not result.input_count:
                # not already fused into the source-agg job (query-only
                # runs): one count job for the stats row
                result.input_count = df.count()
            result.output_count = result.input_count
        result.final_df = final_df

        # -- stages 4/5: target agg/query on post-row-dq frame --------------
        run_target = settings["row_dq"]
        self._stage(result, "target_agg_dq",
                    settings["target_agg_dq"] and run_target, self._agg,
                    final_df, rules, result, True)
        run_query = settings["target_query_dq"] and run_target
        if run_query and cfg.target_view:
            final_df.createOrReplaceTempView(cfg.target_view)
        self._stage(result, "target_query_dq", run_query, self._query,
                    spark, rules, result, True)

        # -- final write + stats --------------------------------------------
        if cfg.target_table:
            writer.write_batch(final_df, cfg.target_table, cfg.target_writer)
        self._write_stats(spark, result)
        return result

    def _write_stats(self, spark: SparkSession, result: DQResult,
                     best_effort: bool = False) -> None:
        cfg = self.config
        if not cfg.write_stats_table:
            return
        try:
            sdf = writer.stats_df(spark, result)
            writer.write_batch(sdf, cfg.resolved_stats_table(), cfg.stats_writer)
            if cfg.enable_detailed_stats:
                ddf = writer.detailed_stats_df(spark, result)
                writer.write_batch(ddf, cfg.resolved_stats_table() + "_detailed",
                                   cfg.stats_writer)
                qdf = writer.querydq_output_df(spark, result)
                if qdf.head(1):
                    writer.write_batch(qdf, cfg.resolved_stats_table() + "_querydq_output",
                                       cfg.stats_writer)
        except Exception:
            if not best_effort:
                raise
            log.exception("stats write after run failure itself failed")

    # ---------------------------------------------------------------- stages
    def _prepare_flags(self, df: DataFrame, rules: RuleSet) -> DataFrame:
        """Input staging + fused flag projection shared by the plain and
        stage-fused row paths."""
        cfg = self.config
        if cfg.use_temp_table:
            df = writer.materialize_temp_table(df, cfg.table_name, cfg.temp_writer)
        return row_dq.project_flags(df, rules.for_stage(ROW_DQ))

    def _agg(self, df: DataFrame, rules: RuleSet, result: DQResult,
             target: bool, fuse_rows: bool = False):
        """One agg_dq stage over ``df``: the source rules over the input
        or the target rules over the post-row-dq frame. With
        ``fuse_rows`` (source stage, row_dq on) the agg rules ride the
        row-summary aggregation job and ``(flags, summary)`` is returned
        for ``_row``."""
        side = "target" if target else "source"
        agg_rules = rules.for_stage(AGG_DQ, target=target)
        fused = None
        if fuse_rows:
            flags = self._prepare_flags(df, rules)
            exprs, parsed = agg_dq.rule_agg_exprs(agg_rules, prefix="__sagg")
            summary, row = row_dq.summarize_flags_with(
                flags, rules.for_stage(ROW_DQ), exprs)
            res = agg_dq.results_from_row(agg_rules, parsed, row,
                                          prefix="__sagg")
            fused = flags, summary
        elif target:
            res = agg_dq.evaluate_agg_rules(df, agg_rules)
        else:
            # row_dq is off: the input count rides the same aggregation
            # job instead of a second full-table scan
            res, n = agg_dq.evaluate_agg_rules(df, agg_rules, with_count=True)
            if n is not None:
                result.input_count = int(n)
        setattr(result, f"{side}_agg", res)
        # per-segment attribution (DQConfig.agg_group_cols): a LAZY
        # grouped evaluation of the same rules over the same frame — no
        # job runs unless the caller inspects it; status and gating stay
        # whole-table
        cols = list(self.config.agg_group_cols or ())
        if cols and agg_rules:
            setattr(result, f"{side}_agg_grouped",
                    agg_dq.evaluate_agg_rules_grouped(df, agg_rules, cols))
        self._gate(result, f"{side}_agg_dq", res)
        return fused

    def _query(self, spark: SparkSession, rules: RuleSet, result: DQResult,
               target: bool) -> None:
        side = "target" if target else "source"
        res = query_dq.evaluate_query_rules(
            spark, rules.for_stage(QUERY_DQ, target=target),
            timeout_s=self.config.query_timeout_s)
        setattr(result, f"{side}_query", res)
        self._gate(result, f"{side}_query_dq", res)

    def _gate(self, result: DQResult, stage: str, res) -> None:
        """A stage's status, then its 'fail'-action gate."""
        result.status[stage] = "Failed" if agg_dq.failed(res) else "Passed"
        agg_dq.enforce_fail_action(res, stage)

    def _row(self, df: DataFrame, rules: RuleSet, result: DQResult,
             fused_state=None) -> DataFrame:
        cfg = self.config
        stage_rules = rules.for_stage(ROW_DQ)
        # boolean flags: rule maps are only materialized for rows that
        # actually land in the error table
        if fused_state is not None:
            flags, summary = fused_state   # scan already done at stage 1
        else:
            flags = self._prepare_flags(df, rules)
            summary = row_dq.summarize_flags(flags, stage_rules)
        result.row_summary = summary
        result.input_count = summary.input_count
        result.error_count = summary.error_count
        result.output_count = summary.output_count

        errors = row_dq.errors_from_flags(flags, stage_rules)
        if cfg.write_error_table and summary.error_count > 0:
            writer.write_batch(
                writer.stamp_run_metadata(errors, result.run_id),
                cfg.resolved_error_table(), cfg.error_writer)
        result.error_df = errors
        try:
            final = row_dq.final_from_flags(flags, stage_rules, summary)
        except row_dq.DQRowFailError:
            result.status["row_dq"] = "Failed"
            raise
        result.status["row_dq"] = "Failed" if summary.error_count else "Passed"
        return final

    # ------------------------------------------------------------- streaming
    def _run_streaming(self, df: DataFrame, rules: RuleSet,
                       spark: SparkSession, result: DQResult) -> DQResult:
        """Reference-parity streaming: row rules + drop filtering only;
        agg/query stages skipped (uncountable mid-stream), counts zero
        (reference core/expectations.py:523-546,960). For full DQ on
        streams use streaming.foreach_batch_dq instead.
        """
        cfg = self.config
        for s in ("source_agg_dq", "source_query_dq", "target_agg_dq", "target_query_dq"):
            result.status[s] = "Skipped"
        stage_rules = rules.for_stage(ROW_DQ)
        flags = row_dq.project_flags(df, stage_rules)
        if cfg.write_error_table:
            err = writer.stamp_run_metadata(
                row_dq.errors_from_flags(flags, stage_rules), result.run_id)
            writer.write_stream(err, cfg.resolved_error_table(), cfg.error_writer)
        final = row_dq.final_from_flags(flags, stage_rules, None)
        result.final_df = final
        result.status["row_dq"] = "Passed"
        if cfg.target_table:
            result.streaming_query = writer.write_stream(
                final, cfg.target_table, cfg.target_writer)
        # reference parity: one batch-mode stats row per streaming run,
        # zero counts (SURVEY 3.3; counts are unknowable mid-stream —
        # use streaming.foreach_batch_dq for per-micro-batch stats)
        self._write_stats(spark, result, best_effort=True)
        return result

    # ---------------------------------------------------------------- helpers
    def _stage(self, result: DQResult, name: str, enabled: bool, fn, *args):
        """Run stage ``name`` timed, or mark it skipped."""
        if not enabled:
            result.status[name] = "Skipped"
            return None
        t0 = utcnow()
        try:
            return fn(*args)
        finally:
            result.timings.append(StageTiming(name, t0, utcnow()))


def reprocess_quarantine(
    error_df: DataFrame,
    rules,
    *,
    run_id: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Re-validate quarantined rows — the day-2 half of the error table
    the reference leaves to the user: after a rule fix or an upstream
    backfill, run the (new) row rules over the error table and split it
    into rows that now pass vs rows still failing.

    Returns ``(recovered, still_failing)``: ``recovered`` carries the
    user schema (meta columns stripped), ready to union back into the
    target table; ``still_failing`` is a refreshed error-table frame
    with ``meta_row_dq_results`` rebuilt under the CURRENT rules AND
    fresh ``meta_dq_run_id`` / ``meta_dq_run_datetime`` stamps (the
    same columns the engine-written error table carries — overwriting
    the quarantine keeps the stored schema identical). Pass ``run_id``
    to tie the reprocess to an engine run; default mints a
    ``reprocess_<uuid>`` id.

    Scale shape: same as the engine's row stage — one fused boolean-flag
    projection over the error table (quarantine-sized, not table-sized),
    one filter each way; meta maps are built only for still-failing
    rows. Accepts a ``RuleSet`` or a plain rule sequence; only row_dq
    rules apply (agg/query rules need the full table's context — run
    the engine for those).
    """
    row_rules = (rules.of_type(ROW_DQ) if isinstance(rules, RuleSet)
                 else [r for r in rules
                       if r.rule_type == ROW_DQ and r.is_active])
    if not row_rules:
        raise ValueError("reprocess_quarantine needs at least one row_dq rule")
    data = error_df.drop(row_dq.META_ROW_RESULTS, row_dq.META_RUN_ID,
                         row_dq.META_RUN_DATETIME)
    flags = row_dq.project_flags(data, row_rules)
    names = [row_dq._flag_name(i) for i in range(len(row_rules))]
    # recovered = fails NO rule at all (an ignore-action failure keeps a
    # row quarantined — it is still an error, unlike the engine's final
    # output which only removes drop-action failures)
    recovered = flags.filter(~row_dq._any_flag(row_rules)).drop(*names)
    still = writer.stamp_run_metadata(
        row_dq.errors_from_flags(flags, row_rules),
        run_id if run_id is not None else new_run_id("reprocess"))
    return recovered, still
