"""Run-scoped state and results.

Collapses the reference's 3k-line getter/setter Context
(core/context.py:27-196 + ~150 accessors) into small dataclasses: a
DQConfig the user builds once and a DQResult produced per run.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Mapping, Optional, Sequence

from ..operators.agg_dq import AggRuleResult
from ..operators.query_dq import QueryRuleResult
from ..operators.row_dq import RowDQSummary


def new_run_id(product_id: str) -> str:
    # reference core/context.py:28: f"{product_id}_{uuid1()}"
    return f"{product_id}_{uuid.uuid1()}"


def utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


@dataclass
class WriterOptions:
    """Sink options for one table (reference sinks/utils/writer.py:242-287)."""

    format: str = "parquet"
    mode: str = "append"
    partition_by: Sequence[str] = ()
    bucket_by: Optional[tuple[int, Sequence[str]]] = None
    sort_by: Sequence[str] = ()
    options: Mapping[str, str] = field(default_factory=dict)
    #: when set, write to this filesystem path instead of saveAsTable
    path: Optional[str] = None
    #: streaming-only knobs (reference writer.py:168-241)
    output_mode: str = "append"
    trigger: Optional[Mapping[str, Any]] = None
    checkpoint_location: Optional[str] = None
    query_name: Optional[str] = None


@dataclass
class DQConfig:
    product_id: str
    table_name: str
    #: params substituted into rule table_names/expectations ({env} style)
    params: Mapping[str, Any] = field(default_factory=dict)
    #: temp-view name the input df is registered under for source query_dq
    source_view: Optional[str] = None
    #: temp-view name the post-row-dq df is registered under for target stages
    target_view: Optional[str] = None
    #: extra DataFrames to register as views before query_dq runs
    views: Mapping[str, Any] = field(default_factory=dict)

    write_error_table: bool = True
    error_table: Optional[str] = None          # default {table_name}_error
    error_writer: WriterOptions = field(default_factory=WriterOptions)

    write_stats_table: bool = False
    stats_table: Optional[str] = None          # default {table_name}_stats
    stats_writer: WriterOptions = field(default_factory=WriterOptions)
    enable_detailed_stats: bool = False

    #: when set, the final frame is written here
    target_table: Optional[str] = None
    target_writer: WriterOptions = field(default_factory=WriterOptions)

    #: reference parity (expectations.py:492-521): materialize the input
    #: to {table_name}_temp via temp_writer and re-read before row_dq
    use_temp_table: bool = False
    temp_writer: WriterOptions = field(default_factory=WriterOptions)
    #: runtime budget (seconds) for each query_dq stage: the fused
    #: assertion SELECT runs under a job tag a watchdog cancels; on budget
    #: overrun rules re-evaluate individually and the slow ones get
    #: status='timeout' (gating like failures) instead of hanging the
    #: run. None = no budget (reference behavior).
    query_timeout_s: Optional[float] = None
    #: per-segment attribution for SOURCE agg rules: when set, every
    #: source agg_dq rule is ALSO evaluated per combination of these
    #: columns (operators/agg_dq.evaluate_agg_rules_grouped) and the
    #: lazy tall frame lands in DQResult.source_agg_grouped — run
    #: status/gating still come from the whole-table evaluation
    #: (observational attribution; filter status='fail' downstream)
    agg_group_cols: Sequence[str] = ()
    #: optional NotificationHub (notifications.py); receives
    #: start/completion/failure/threshold events
    notifications: Any = None

    def resolved_error_table(self) -> str:
        return self.error_table or f"{self.table_name}_error"

    def resolved_stats_table(self) -> str:
        return self.stats_table or f"{self.table_name}_stats"


@dataclass
class StageTiming:
    name: str
    started: datetime
    ended: datetime

    @property
    def seconds(self) -> float:
        return (self.ended - self.started).total_seconds()


@dataclass
class DQResult:
    run_id: str
    product_id: str
    table_name: str
    input_count: int = 0
    error_count: int = 0
    output_count: int = 0
    row_summary: Optional[RowDQSummary] = None
    source_agg: list[AggRuleResult] = field(default_factory=list)
    target_agg: list[AggRuleResult] = field(default_factory=list)
    source_query: list[QueryRuleResult] = field(default_factory=list)
    target_query: list[QueryRuleResult] = field(default_factory=list)
    status: dict[str, str] = field(default_factory=dict)   # stage -> Passed/Failed/Skipped
    timings: list[StageTiming] = field(default_factory=list)
    run_date: datetime = field(default_factory=utcnow)
    final_df: Any = None
    error_df: Any = None
    streaming_query: Any = None
    #: lazy (group_cols..., rule, status, actual_value) frame when
    #: DQConfig.agg_group_cols is set and source agg rules exist
    source_agg_grouped: Any = None
    #: same per-segment attribution over the POST-clean final_df for
    #: TARGET agg rules — which segment broke the published table
    target_agg_grouped: Any = None

    # -- derived metrics (reference core/context.py:1683-1732) --------------
    @property
    def error_percentage(self) -> float:
        return round(self.error_count / self.input_count * 100, 2) if self.input_count else 0.0

    @property
    def output_percentage(self) -> float:
        return round(self.output_count / self.input_count * 100, 2) if self.input_count else 0.0

    @property
    def success_percentage(self) -> float:
        return round((self.input_count - self.error_count) / self.input_count * 100, 2) \
            if self.input_count else 0.0

    def rules_execution_summary(self) -> dict[str, dict[str, int]]:
        """map<rule_type, map<status,count>> for the stats row."""
        out: dict[str, dict[str, int]] = {}
        if self.row_summary is not None:
            n_failed_rules = sum(1 for v in self.row_summary.rule_failed_counts.values() if v)
            n_rules = len(self.row_summary.rule_failed_counts)
            out["row_dq"] = {"pass": n_rules - n_failed_rules, "fail": n_failed_rules}
        for name, results in (("agg_dq", self.source_agg + self.target_agg),
                              ("query_dq", self.source_query + self.target_query)):
            if results:
                # anything that is not an explicit pass counts as fail —
                # a 'timeout' query rule gates like a failure
                # (query_dq.failed), so the stats row must not report it
                # as a pass
                p = sum(1 for r in results if r.status == "pass")
                out[name] = {"pass": p, "fail": len(results) - p}
        return out

    def stats_record(self) -> dict[str, Any]:
        """One flat-ish dict == one stats-table row (reference
        sinks/utils/writer.py:887-938 schema, same column names)."""
        rs = self.row_summary
        return {
            "product_id": self.product_id,
            "table_name": self.table_name,
            "input_count": self.input_count,
            "error_count": self.error_count,
            "output_count": self.output_count,
            "output_percentage": self.output_percentage,
            "success_percentage": self.success_percentage,
            "error_percentage": self.error_percentage,
            "source_agg_dq_results": [r.result_map() for r in self.source_agg] or None,
            "final_agg_dq_results": [r.result_map() for r in self.target_agg] or None,
            "source_query_dq_results": [r.result_map() for r in self.source_query] or None,
            "final_query_dq_results": [r.result_map() for r in self.target_query] or None,
            "row_dq_res_summary": [
                {"rule": rule, "failed_row_count": str(cnt)}
                for rule, cnt in (rs.rule_failed_counts.items() if rs else [])
            ] or None,
            "row_dq_error_threshold": None,
            "dq_status": dict(self.status),
            "dq_run_time": {t.name: t.seconds for t in self.timings},
            "dq_rules": self.rules_execution_summary(),
            "meta_dq_run_id": self.run_id,
            "meta_dq_run_date": self.run_date,
            "meta_dq_run_datetime": self.run_date,
        }
