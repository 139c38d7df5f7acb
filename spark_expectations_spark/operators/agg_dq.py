"""Aggregate DQ: every agg rule evaluated in ONE Spark job.

Re-expresses reference utils/actions.py:164-301,580-596. The reference runs
2 extra Spark jobs PER rule when detailed stats are on (``df.agg().collect()``
then a confirmation select). Here all rules — pass/fail booleans AND actual
aggregate values — are fused into a single ``df.agg(*exprs)``: one scan, one
partial+final hash aggregate, regardless of rule count.

The expectation splitter is a small top-level scanner (parens/quote aware)
instead of the reference's fragile regexes (config/user_config.py:105-115).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.rules import ACTION_FAIL, Rule


class DQAggFailError(RuntimeError):
    """Raised when a failed agg/query rule has action_if_failed='fail'."""


_OPS = ("<=", ">=", "!=", "<>", "==", "=", "<", ">")
_BETWEEN_RE = re.compile(r"\bbetween\b", re.IGNORECASE)
_AND_RE = re.compile(r"\band\b", re.IGNORECASE)


def _top_level_spans(s: str, regex: re.Pattern) -> list[re.Match]:
    """Matches of ``regex`` at paren/quote depth 0."""
    out = []
    depth = 0
    quote: Optional[str] = None
    i = 0
    matches = {m.start(): m for m in regex.finditer(s)}
    while i < len(s):
        c = s[i]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and i in matches:
            out.append(matches[i])
            i = matches[i].end()
            continue
        i += 1
    return out


def _find_top_level_op(s: str) -> Optional[tuple[int, str]]:
    depth = 0
    quote: Optional[str] = None
    i = 0
    while i < len(s):
        c = s[i]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            for op in _OPS:
                if s.startswith(op, i):
                    # skip '=' that is part of '<=' already handled by order;
                    # skip '<'/'>' that begin '<=' handled likewise
                    return i, op
        i += 1
    return None


@dataclass(frozen=True)
class ParsedExpectation:
    """``agg_expr <op> bound`` or ``agg_expr between lo and hi``."""

    source_expr: str          # the measured expression (left side)
    op: str                   # '<', '>=', 'between', ...
    expected: str             # right side text ('20' or 'lo and hi')

    def expected_repr(self) -> str:
        return f"{self.op} {self.expected}".strip()


def parse_expectation(expectation: str) -> Optional[ParsedExpectation]:
    """Split an expectation into measured-expression / comparison / bound.

    Returns None when no top-level comparison exists (the whole expression
    is then treated as a boolean and no 'actual value' is extractable).
    """
    btw = _top_level_spans(expectation, _BETWEEN_RE)
    if btw:
        m = btw[0]
        left = expectation[: m.start()].strip()
        rest = expectation[m.end():].strip()
        # guard against `case when ... between` on the right of a comparison
        found = _find_top_level_op(expectation[: m.start()])
        if not found:
            # 'x NOT between lo and hi': the NOT belongs to the operator,
            # not the measured expression (F.expr('avg(age) not') would
            # crash the whole agg stage)
            neg = re.search(r"(?i)\bnot\s*$", left)
            if neg:
                return ParsedExpectation(left[: neg.start()].strip(),
                                         "not between", rest)
            return ParsedExpectation(left, "between", rest)
    found = _find_top_level_op(expectation)
    if not found:
        return None
    i, op = found
    left = expectation[:i].strip()
    right = expectation[i + len(op):].strip()
    if not left or not right:
        return None
    return ParsedExpectation(left, op, right)


@dataclass
class AggRuleResult:
    rule: Rule
    status: str                      # 'pass' | 'fail'
    actual_value: Any = None         # measured aggregate value
    expected: Optional[str] = None   # e.g. '> 20' | 'between 18 and 25'

    def result_map(self) -> dict[str, str]:
        d = dict(self.rule.meta_items())
        d["status"] = self.status
        if self.actual_value is not None:
            d["actual_value"] = _scalar_str(self.actual_value)
        if self.expected is not None:
            d["expected"] = self.expected
        return d


def _scalar_str(v: Any) -> str:
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def rule_agg_exprs(
    rules: Sequence[Rule], prefix: str = "__b",
) -> tuple[list[Column], list[Optional[ParsedExpectation]]]:
    """The fused aggregate expressions for a rule list: per rule the
    boolean expectation plus (when parseable) the measured aggregate.
    Catalyst de-duplicates the shared aggregate child, so ``sum(x) > 10``
    + actual ``sum(x)`` computes ``sum(x)`` once. Exposed so callers can
    splice agg rules into an EXISTING aggregation job (stage fusion in
    DQEngine) instead of paying a second scan."""
    exprs: list[Column] = []
    parsed: list[Optional[ParsedExpectation]] = []
    for i, r in enumerate(rules):
        exprs.append(F.expr(r.expectation).alias(f"{prefix}{i}"))
        p = parse_expectation(r.expectation)
        parsed.append(p)
        if p is not None:
            exprs.append(F.expr(p.source_expr).alias(f"{prefix}v{i}"))
    return exprs, parsed


def results_from_row(
    rules: Sequence[Rule],
    parsed: Sequence[Optional[ParsedExpectation]],
    row,
    prefix: str = "__b",
) -> list[AggRuleResult]:
    """Decode one collected row of ``rule_agg_exprs`` outputs."""
    out: list[AggRuleResult] = []
    for i, r in enumerate(rules):
        p = parsed[i]
        out.append(
            AggRuleResult(
                rule=r,
                status="pass" if bool(row[f"{prefix}{i}"]) else "fail",
                actual_value=row[f"{prefix}v{i}"] if p is not None else None,
                expected=p.expected_repr() if p is not None else None,
            )
        )
    return out


def evaluate_agg_rules(
    df: DataFrame, rules: Sequence[Rule], *, with_count: bool = False,
):
    """All agg rules in one ``df.agg`` job. With ``with_count`` the same
    job also returns the table row count (``(results, n_rows)``) — the
    engine fuses its input_count here when the row stage is skipped, so
    an agg-only run still costs ONE scan."""
    if not rules:
        return ([], None) if with_count else []
    exprs, parsed = rule_agg_exprs(rules)
    if with_count:
        exprs = [F.count(F.lit(1)).alias("__n_rows")] + exprs
    row = df.agg(*exprs).first()
    res = results_from_row(rules, parsed, row)
    return (res, row["__n_rows"]) if with_count else res


def evaluate_agg_rules_grouped(
    df: DataFrame,
    rules: Sequence[Rule],
    group_cols: Sequence[str],
) -> DataFrame:
    """Every agg rule evaluated once per ``group_cols`` combination, as a
    lazy tall ``(*group_cols, rule, status, actual_value double)`` frame.
    Empty ``group_cols`` gives the whole-table result (``df.agg`` is
    ``groupBy().agg``), usable as a query result. Per-SEGMENT
    aggregate assertions are the grouped case: "avg price
    between 30k and 40k" as a whole-table rule can pass while one
    region is wildly off; this is the rule surface for "…FOR EVERY
    segment".

    One ``groupBy().agg()`` job for ALL rules (map-side partial
    aggregation; Catalyst de-duplicates each rule's shared aggregate
    child between the boolean and its actual), then a literal-array
    explode — group-cardinality × rules rows, fully lazy/distributed,
    so the result composes with fail-action gates
    (``filter(status='fail')``) or the detailed-stats join. At 100 TB
    this is the same single shuffle the business aggregation itself
    would cost."""
    if not rules:
        raise ValueError("rules must be non-empty")
    exprs: list[Column] = []
    for i, r in enumerate(rules):
        p = parse_expectation(r.expectation)
        actual = F.expr(p.source_expr) if p is not None else F.lit(None)
        exprs += [F.expr(r.expectation).alias(f"__b{i}"),
                  actual.cast("double").alias(f"__v{i}")]
    agg = df.groupBy(*group_cols).agg(*exprs)
    structs = [
        F.struct(
            F.lit(r.rule).alias("rule"),
            F.when(F.col(f"__b{i}"), F.lit("pass"))
            .otherwise(F.lit("fail")).alias("status"),
            F.col(f"__v{i}").alias("actual_value"),
        )
        for i, r in enumerate(rules)
    ]
    return (agg.select(*group_cols,
                       F.explode(F.array(*structs)).alias("r"))
            .select(*group_cols, "r.*"))


def failed(results: Sequence) -> list:
    """Agg or query results that did not pass: a query rule's 'timeout'
    gates like 'fail' (an assertion that was not evaluated did not pass)."""
    return [r for r in results if r.status != "pass"]


def enforce_fail_action(results: Sequence, stage: str) -> None:
    hard = [r for r in failed(results) if r.rule.action_if_failed == ACTION_FAIL]
    if hard:
        names = [r.rule.rule for r in hard]
        raise DQAggFailError(f"{stage}: rules {names} failed with action 'fail'")
