"""Rule model: the 17-column canonical rules schema.

Re-expresses the reference's rules-table contract
(reference: spark_expectations/rules/plugins/_flatten.py:50-84,
docs/user_guide/data_quality_rules.md:23-43) as a plain dataclass +
RuleSet container. Parsing/filtering happens driver-side on rule-scale
data (a few hundred rows at most) — the data-scale work is all in
operators/.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field, replace
from typing import Any, Iterable, Mapping, Optional

ROW_DQ = "row_dq"
AGG_DQ = "agg_dq"
QUERY_DQ = "query_dq"
RULE_TYPES = (ROW_DQ, AGG_DQ, QUERY_DQ)

ACTION_IGNORE = "ignore"
ACTION_DROP = "drop"
ACTION_FAIL = "fail"
ACTIONS = (ACTION_IGNORE, ACTION_DROP, ACTION_FAIL)

#: Canonical column order (reference _flatten.py:50-68).
RULE_COLUMNS = (
    "product_id",
    "table_name",
    "rule_type",
    "rule",
    "column_name",
    "expectation",
    "action_if_failed",
    "tag",
    "description",
    "enable_for_source_dq_validation",
    "enable_for_target_dq_validation",
    "is_active",
    "enable_error_drop_alert",
    "error_drop_threshold",
    "query_dq_delimiter",
    "enable_querydq_custom_output",
    "priority",
)


class DQRuleError(ValueError):
    """Raised for malformed rules."""


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


@dataclass(frozen=True)
class Rule:
    """One declarative DQ rule (one row of the rules table)."""

    product_id: str
    table_name: str
    rule_type: str
    rule: str
    column_name: str
    expectation: str
    action_if_failed: str = ACTION_IGNORE
    tag: str = ""
    description: str = ""
    enable_for_source_dq_validation: bool = True
    enable_for_target_dq_validation: bool = False
    is_active: bool = True
    enable_error_drop_alert: bool = False
    error_drop_threshold: int = 100
    query_dq_delimiter: str = "@"
    enable_querydq_custom_output: bool = False
    priority: str = "medium"
    #: alias -> SQL for composite query_dq rules (filled by parse_composite).
    secondary_queries: Mapping[str, str] = field(default_factory=dict, compare=False)

    def __post_init__(self) -> None:
        if self.rule_type not in RULE_TYPES:
            raise DQRuleError(f"rule {self.rule!r}: bad rule_type {self.rule_type!r}")
        if self.action_if_failed not in ACTIONS:
            raise DQRuleError(
                f"rule {self.rule!r}: bad action_if_failed {self.action_if_failed!r}"
            )
        if self.action_if_failed == ACTION_DROP and self.rule_type != ROW_DQ:
            raise DQRuleError(f"rule {self.rule!r}: 'drop' only valid for row_dq")
        if not self.expectation or not str(self.expectation).strip():
            raise DQRuleError(f"rule {self.rule!r}: empty expectation")

    @property
    def id_hash(self) -> str:
        # reference core/expectations.py:116-126: md5 over identity columns
        return _md5(
            "|".join([self.product_id, self.table_name, self.rule_type, self.rule])
        )

    @property
    def expectation_hash(self) -> str:
        return _md5(self.expectation)

    def meta_items(self) -> list[tuple[str, str]]:
        """Key/value metadata embedded in per-row result maps
        (reference utils/actions.py:497-516)."""
        return [
            ("rule_type", self.rule_type),
            ("rule", self.rule),
            ("column_name", self.column_name or ""),
            ("expectation", self.expectation),
            ("action_if_failed", self.action_if_failed),
            ("tag", self.tag or ""),
            ("description", self.description or ""),
            ("priority", self.priority or "medium"),
        ]

    def as_record(self) -> dict[str, Any]:
        return {c: getattr(self, c) for c in RULE_COLUMNS}


_TRUE = {"true", "1", "yes", "y", "t"}
_FALSE = {"false", "0", "no", "n", "f", "", "null", "none"}


def _as_bool(v: Any, default: bool = False) -> bool:
    if v is None:
        return default
    if isinstance(v, bool):
        return v
    s = str(v).strip().lower()
    if s in _TRUE:
        return True
    if s in _FALSE:
        return False
    return default


def _as_int(v: Any, default: int = 0) -> int:
    if v is None or (isinstance(v, str) and not v.strip()):
        return default
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return default


def coerce_record(rec: Mapping[str, Any], defaults: Optional[Mapping[str, Any]] = None) -> Rule:
    """Normalize a loosely-typed record (from YAML/JSON/DataFrame row) into a Rule."""
    d: dict[str, Any] = dict(defaults or {})
    d.update({k: v for k, v in rec.items() if k in RULE_COLUMNS})
    for k in ("enable_for_source_dq_validation", "is_active"):
        d[k] = _as_bool(d.get(k), True)
    for k in ("enable_for_target_dq_validation", "enable_error_drop_alert",
              "enable_querydq_custom_output"):
        d[k] = _as_bool(d.get(k), False)
    d["error_drop_threshold"] = _as_int(d.get("error_drop_threshold"), 100)
    for k in ("product_id", "table_name", "rule_type", "rule", "column_name",
              "expectation", "action_if_failed", "tag", "description", "priority",
              "query_dq_delimiter"):
        v = d.get(k)
        d[k] = "" if v is None else str(v)
    d.setdefault("action_if_failed", ACTION_IGNORE)
    if not d.get("action_if_failed"):
        d["action_if_failed"] = ACTION_IGNORE
    if not d.get("query_dq_delimiter"):
        d["query_dq_delimiter"] = "@"
    if not d.get("priority"):
        d["priority"] = "medium"
    return Rule(**d)


_PLACEHOLDER_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def substitute_params(text: str, mapping: Mapping[str, Any]) -> str:
    """Replace ``{name}`` placeholders for KNOWN names only. str.format
    would crash on any literal brace — a regex quantifier ``{5}`` or map
    literal in an otherwise param-free expectation must pass through
    untouched (and an unknown ``{name}`` stays literal, surfacing later
    in the SQL error with its name intact)."""
    if not mapping:
        return text
    return _PLACEHOLDER_RE.sub(
        lambda m: str(mapping[m.group(1)]) if m.group(1) in mapping
        else m.group(0), text)


def _split_outside_quotes(s: str, delim: str) -> list[str]:
    """Split on ``delim`` occurrences OUTSIDE single/double-quoted SQL
    strings — a literal '@' inside e.g. ``like '%@corp.com'`` is part of
    the query, not a composite separator."""
    parts: list[str] = []
    cur: list[str] = []
    q: Optional[str] = None
    i, n, dn = 0, len(s), len(delim)
    while i < n:
        ch = s[i]
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            i += 1
        elif ch in ("'", '"'):
            q = ch
            cur.append(ch)
            i += 1
        elif s.startswith(delim, i):
            parts.append("".join(cur))
            cur = []
            i += dn
        else:
            cur.append(ch)
            i += 1
    parts.append("".join(cur))
    return parts


def parse_composite(rule: Rule, params: Optional[Mapping[str, Any]] = None) -> Rule:
    """Split a composite query_dq expectation.

    ``expr@alias1@sql1@alias2@sql2`` (delimiter configurable) becomes the
    base expectation with ``{alias}`` placeholders substituted by the
    subquery text, plus ``secondary_queries={alias: sql}`` retained for
    custom-output capture. The delimiter split is quote-aware (a literal
    delimiter character inside a SQL string does not split). Mirrors
    reference utils/reader.py:227-257.
    """
    params = dict(params or {})
    if rule.rule_type != QUERY_DQ:
        if params:
            return replace(
                rule, expectation=substitute_params(rule.expectation, params))
        return rule
    delim = rule.query_dq_delimiter or "@"
    parts = _split_outside_quotes(rule.expectation, delim)
    if len(parts) == 1:
        return replace(
            rule, expectation=substitute_params(rule.expectation, params))
    if len(parts) % 2 == 0:
        raise DQRuleError(
            f"rule {rule.rule!r}: composite expectation needs alias/query pairs"
        )
    base = parts[0]
    secondary: dict[str, str] = {}
    for i in range(1, len(parts), 2):
        alias, sql = parts[i].strip(), parts[i + 1]
        secondary[alias] = substitute_params(sql, params)
    expectation = substitute_params(base, {**secondary, **params})
    return replace(rule, expectation=expectation, secondary_queries=secondary)


_AGG_FN_RE = re.compile(
    r"\b(sum|sum_distinct|avg|mean|min|max|min_by|max_by|count|count_if|"
    r"count_distinct|approx_count_distinct|stddev|stddev_pop|stddev_samp|"
    r"variance|var_pop|var_samp|skewness|kurtosis|percentile|"
    r"percentile_approx|percentile_cont|percentile_disc|approx_percentile|"
    r"collect_list|collect_set|first|last|corr|covar_pop|covar_samp|"
    r"median|mode|any_value|bool_and|bool_or|every|some|any|"
    r"bit_and|bit_or|bit_xor)"
    r"\s*\(",
    re.IGNORECASE,
)
_OVER_RE = re.compile(r"\)\s*over\s*\(", re.IGNORECASE)


def _blank_string_literals(s: str) -> str:
    """Replace the CONTENTS of single/double-quoted literals with spaces
    (length-preserving) so regex probes don't match text inside them —
    ``col rlike 'sum(.*'`` contains no aggregate."""
    out, q = [], None
    for ch in s:
        if q:
            if ch == q:
                q = None
                out.append(ch)
            else:
                out.append(" ")
        elif ch in ("'", '"'):
            q = ch
            out.append(ch)
        else:
            out.append(ch)
    return "".join(out)


def strip_scalar_subqueries(s: str) -> str:
    """Remove balanced ``(select ...)`` spans: an aggregate INSIDE a
    scalar subquery is not a top-level aggregate (``amount <= (select
    max(cap) from limits)`` is a legitimate row_dq predicate)."""
    res = s
    while True:
        m = re.search(r"\(\s*select\b", res, re.IGNORECASE)
        if not m:
            return res
        end = _matching_paren(res, m.start())
        if end is None:
            return res
        res = res[: m.start()] + " __subq__ " + res[end + 1:]


def looks_aggregate(expectation: str) -> bool:
    """True if the expression contains a top-level aggregate function call
    (window-function ``over(...)`` uses and text inside string literals
    do not count)."""
    stripped = _OVER_RE.sub(") __over__ (", _blank_string_literals(expectation))
    # remove window'd agg calls: any agg immediately followed by __over__
    for m in reversed(list(_AGG_FN_RE.finditer(stripped))):
        end = _matching_paren(stripped, m.end() - 1)
        if end is not None and stripped[end + 1:].lstrip().startswith("__over__"):
            stripped = stripped[: m.start()] + " 1 " + stripped[end + 1:]
    return bool(_AGG_FN_RE.search(stripped))


def _matching_paren(s: str, open_idx: int) -> Optional[int]:
    depth = 0
    for i in range(open_idx, len(s)):
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
    return None


class RuleSet:
    """Immutable collection of rules with stage filtering."""

    def __init__(self, rules: Iterable[Rule]):
        self.rules: tuple[Rule, ...] = tuple(rules)
        names = [r.rule for r in self.rules]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise DQRuleError(f"duplicate rule names: {sorted(dupes)}")

    @classmethod
    def from_records(
        cls,
        records: Iterable[Mapping[str, Any]],
        defaults: Optional[Mapping[str, Any]] = None,
        params: Optional[Mapping[str, Any]] = None,
    ) -> "RuleSet":
        """``params`` are substituted {placeholder}-style into table_name
        and expectations (reference utils/reader.py:297-331)."""
        out = []
        for rec in records:
            rule = coerce_record(rec, defaults)
            if params and "{" in rule.table_name:
                rule = replace(rule, table_name=substitute_params(
                    rule.table_name, params))
            out.append(parse_composite(rule, params))
        return cls(out)

    @classmethod
    def from_df(cls, rules_df, product_id: Optional[str] = None,
                table_name: Optional[str] = None,
                params: Optional[Mapping[str, Any]] = None) -> "RuleSet":
        """Build from a rules DataFrame (reference utils/reader.py:307-348).

        Filtering happens in Spark (predicate pushdown applies if the rules
        table is file-backed); only the matching handful of rows is collected.
        """
        df = rules_df
        if product_id is not None:
            df = df.filter(df["product_id"] == product_id)
        if table_name is not None:
            cond = df["table_name"] == table_name
            if params:
                # stored names may carry {param} placeholders ('{env}_db.t')
                # that only match AFTER substitution — admit them here and
                # re-filter post-substitution below (the exact-match rows
                # still prune Spark-side)
                cond = cond | df["table_name"].contains("{")
            df = df.filter(cond)
        if "is_active" in df.columns:
            df = df.filter(df["is_active"].cast("boolean"))
        rows = [r.asDict() for r in df.collect()]
        rs = cls.from_records(rows, params=params)
        if table_name is not None and params:
            rs = cls([r for r in rs.rules if r.table_name == table_name])
        return rs

    def __len__(self) -> int:
        return len(self.rules)

    def __iter__(self):
        return iter(self.rules)

    def active(self) -> list[Rule]:
        return [r for r in self.rules if r.is_active]

    def of_type(self, rule_type: str) -> list[Rule]:
        return [r for r in self.active() if r.rule_type == rule_type]

    def for_stage(self, rule_type: str, *, target: bool = False) -> list[Rule]:
        """Rules active for the given stage.

        Source stages honor ``enable_for_source_dq_validation``; target
        stages ``enable_for_target_dq_validation`` (reference
        utils/reader.py:355-377). row_dq has a single stage.
        """
        out = []
        for r in self.of_type(rule_type):
            if rule_type == ROW_DQ:
                out.append(r)
            elif target and r.enable_for_target_dq_validation:
                out.append(r)
            elif not target and r.enable_for_source_dq_validation:
                out.append(r)
        return out

    def execution_settings(self) -> dict[str, bool]:
        """The 5 stage-gating flags (reference utils/reader.py:381-417)."""
        return {
            "row_dq": bool(self.of_type(ROW_DQ)),
            "source_agg_dq": bool(self.for_stage(AGG_DQ, target=False)),
            "target_agg_dq": bool(self.for_stage(AGG_DQ, target=True)),
            "source_query_dq": bool(self.for_stage(QUERY_DQ, target=False)),
            "target_query_dq": bool(self.for_stage(QUERY_DQ, target=True)),
        }

    def to_df(self, spark):
        from pyspark.sql.types import (
            BooleanType, IntegerType, StringType, StructField, StructType,
        )

        schema = StructType(
            [
                StructField(c, BooleanType() if c.startswith("enable") or c == "is_active"
                            else IntegerType() if c == "error_drop_threshold"
                            else StringType(), True)
                for c in RULE_COLUMNS
            ]
        )
        return spark.createDataFrame([tuple(r.as_record()[c] for c in RULE_COLUMNS)
                                      for r in self.rules], schema)
