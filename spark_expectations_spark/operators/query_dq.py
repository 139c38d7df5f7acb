"""Query-level DQ: full-SQL assertions evaluated as scalar subqueries.

Re-expresses reference utils/actions.py:306-430. An expectation like
``(select sum(o_totalprice) from order_view) > 10000`` is executed as
``SELECT (<expectation>) AS output`` — Catalyst plans the parenthesized
subqueries as scalar subqueries over registered temp views, so each runs as
an ordinary (optimizable, pushdown-friendly) aggregation job.

Composite rules (``expr@alias@sql`` form, parsed in core.rules) also capture
each secondary query's result set for the querydq-output audit table.
Secondary results are rule-scale (assertions over aggregates), so the
``collect()`` here is bounded — never data-scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..core.rules import Rule
# failed / enforce_fail_action: one gate for agg and query results,
# re-exported here so query_dq callers keep their names
from .agg_dq import enforce_fail_action, failed, parse_expectation  # noqa: F401


@dataclass
class QueryRuleResult:
    rule: Rule
    status: str                          # 'pass' | 'fail' | 'timeout'
    actual_value: Any = None
    expected: Optional[str] = None
    #: alias -> list[dict] rows captured from secondary queries. An
    #: alias whose capture blew the runtime budget is ABSENT here and
    #: listed in timed_out_secondaries instead — an empty list always
    #: means "the query ran and returned no rows".
    secondary_output: dict[str, list[dict]] = field(default_factory=dict)
    #: aliases whose secondary capture timed out under the stage budget
    timed_out_secondaries: list[str] = field(default_factory=list)

    def result_map(self) -> dict[str, str]:
        d = dict(self.rule.meta_items())
        d["status"] = self.status
        if self.actual_value is not None:
            d["actual_value"] = str(self.actual_value)
        if self.expected is not None:
            d["expected"] = self.expected
        if self.timed_out_secondaries:
            d["timed_out_secondaries"] = ",".join(self.timed_out_secondaries)
        return d


def _run_with_timeout(spark: SparkSession, fn, timeout_s: Optional[float]):
    """Run ``fn`` (which triggers Spark jobs on THIS thread) under a
    SparkContext job tag that a watchdog timer cancels after
    ``timeout_s`` seconds. Returns ``(value, timed_out)``; with
    ``timeout_s=None`` there is no budget, so ``fn`` runs as is. Spark
    has no per-query timeout of its own. A job tag adds to the caller's
    job group, description and tags instead of replacing them, so a
    pipeline that cancels its own group still reaches the budgeted jobs.
    Under Spark Connect there is no ``sparkContext`` — the query then
    runs without a watchdog (the caller's contract is best-effort
    budget, not hard real-time).

    Interruptibility caveat: cancellation marks tasks killed, but a
    task only dies when its generated code polls the kill flag. Scans,
    shuffles and aggregations poll per batch and die promptly; the
    inner loop of an un-equi-joined nested-loop join (the accidental
    cross join this budget exists for) does NOT poll, so its tasks can
    linger as zombies occupying task slots after the timeout fires —
    the budget still returns control and marks the rule, but schedule
    headroom for follow-up queries may be reduced until those tasks
    finish or the executor is recycled."""
    import threading
    import uuid

    from ..connect import spark_context

    # no budget, or Spark Connect (no job-tag API on the client)
    sc = None if timeout_s is None else spark_context(spark)
    if sc is None:
        return fn(), False
    tag = f"se-querydq-{uuid.uuid4().hex[:12]}"
    # interrupt the task threads on cancel for the budget only, then put
    # back the caller's choice for the jobs it runs after the DQ stage
    interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.addJobTag(tag)
    sc.setInterruptOnCancel(True)
    done = threading.Event()
    expired = threading.Event()

    def _watchdog():
        # REPEATING cancel, not a one-shot: a multi-subquery SELECT runs
        # several sequential jobs, and cancelJobsWithTag only cancels
        # jobs active at that instant — a single cancel landing in the
        # gap between two jobs would be a no-op and the next job would
        # run unbudgeted. Re-cancelling every 250ms until the main thread
        # signals completion closes that race.
        if done.wait(timeout_s):
            return
        expired.set()
        while not done.is_set():
            sc.cancelJobsWithTag(tag)
            done.wait(0.25)

    watchdog = threading.Thread(target=_watchdog, daemon=True)
    watchdog.start()
    try:
        return fn(), False
    except Exception:  # noqa: BLE001 - classifying cancellation
        # once the watchdog has fired, ANY job failure is classified as
        # timeout: Spark surfaces cancellation with wording that varies
        # by version/backend ("cancelled", "killed", a bare
        # SparkException), so substring-matching would let a real
        # timeout re-raise as a hard error. A genuine unrelated failure
        # racing the expiry also reads 'timeout' — acceptable, since
        # the budget DID expire and the rule is gated either way.
        if expired.is_set():
            return None, True
        raise
    finally:
        done.set()
        sc.removeJobTag(tag)
        sc.setLocalProperty("spark.job.interruptOnCancel", interrupt)


def evaluate_query_rules(
    spark: SparkSession,
    rules: Sequence[Rule],
    *,
    timeout_s: Optional[float] = None,
) -> list[QueryRuleResult]:
    """ALL rules' pass/fail bits AND actual values are fused into ONE
    SELECT (the query-dq twin of agg_dq's single df.agg): each scalar
    subquery is planned once and Catalyst's ReuseSubquery dedupes the
    subqueries shared between an expectation and its extracted
    actual-value expression — K rules cost one driver round-trip instead
    of the reference's 2 jobs per rule (utils/actions.py:306-430).

    ``timeout_s`` puts a runtime budget on the stage: the fused SELECT
    runs under a cancellable job tag, and if it exceeds the budget the
    rules are re-evaluated INDIVIDUALLY, each under its own
    ``timeout_s``, so one pathological scalar subquery (the classic
    reference-user failure: an accidental cross join in a rule) marks
    only ITS rule ``status='timeout'`` instead of hanging the whole DQ
    run. Timed-out rules carry no actual value, skip secondary capture,
    and gate like failures (a rule you could not evaluate is not a rule
    that passed)."""
    if not rules:
        return []
    parsed = [parse_expectation(r.expectation) for r in rules]
    row, timed_out = _run_with_timeout(
        spark, lambda: spark.sql(_select(rules, parsed)).first(), timeout_s)
    if timed_out:
        return _evaluate_individually(spark, rules, parsed, timeout_s)
    return [_result(spark, r, p, row, i, timeout_s)
            for i, (r, p) in enumerate(zip(rules, parsed))]


def _select(rules: Sequence[Rule], parsed: Sequence[Any]) -> str:
    """The fused SELECT: rule i's pass bit as ``status_i`` and, when the
    expectation parses, its measured value as ``actual_i``."""
    sel = []
    for i, (r, p) in enumerate(zip(rules, parsed)):
        sel.append(f"({r.expectation}) AS status_{i}")
        if p is not None:
            sel.append(f"({p.source_expr}) AS actual_{i}")
    return "SELECT " + ", ".join(sel)


def _result(spark: SparkSession, r: Rule, p, row, i: int,
            timeout_s: Optional[float]) -> QueryRuleResult:
    """Rule ``r``'s result from column ``i`` of a ``_select`` row, with
    its secondary queries captured."""
    secondary, s_timeouts = _capture_secondaries(spark, r, timeout_s)
    return QueryRuleResult(
        rule=r,
        status="pass" if bool(row[f"status_{i}"]) else "fail",
        actual_value=row[f"actual_{i}"] if p is not None else None,
        expected=p.expected_repr() if p is not None else None,
        secondary_output=secondary,
        timed_out_secondaries=s_timeouts,
    )


def _capture_secondaries(
    spark: SparkSession,
    r: Rule,
    timeout_s: Optional[float],
) -> tuple[dict[str, list[dict]], list[str]]:
    """Secondary-query capture shared by the fused and per-rule paths.
    With a budget, EVERY secondary runs under its own watchdog — the
    fused-success path must not become an unbudgeted back door for the
    very cross-join the budget exists to contain. A timed-out alias is
    returned in the second list and OMITTED from the capture dict, so
    an empty list always means 'ran clean, no rows'."""
    secondary: dict[str, list[dict]] = {}
    timeouts: list[str] = []
    if not (r.enable_querydq_custom_output and r.secondary_queries):
        return secondary, timeouts
    for alias, sql in r.secondary_queries.items():
        rows, s_to = _run_with_timeout(
            spark, lambda q=sql: spark.sql(q).collect(), timeout_s)
        if s_to:
            timeouts.append(alias)
            continue
        secondary[alias] = [rw.asDict(recursive=True) for rw in rows]
    return secondary, timeouts


def _evaluate_individually(
    spark: SparkSession,
    rules: Sequence[Rule],
    parsed: Sequence[Any],
    timeout_s: float,
) -> list[QueryRuleResult]:
    """Per-rule fallback after the fused SELECT blew its budget: each
    rule gets its own job tag + watchdog, so the slow subquery is
    identified by name instead of poisoning the batch."""
    out: list[QueryRuleResult] = []
    for r, p in zip(rules, parsed):
        row, timed_out = _run_with_timeout(
            spark, lambda q=_select([r], [p]): spark.sql(q).first(), timeout_s)
        out.append(QueryRuleResult(
            rule=r, status="timeout",
            expected=p.expected_repr() if p is not None else None)
            if timed_out else
            _result(spark, r, p, row, 0, timeout_s))
    return out


def register_views(spark: SparkSession, views: dict[str, DataFrame]) -> None:
    for name, df in views.items():
        df.createOrReplaceTempView(name)
