"""Rule loaders: YAML / JSON files → RuleSet.

Re-expresses reference rules/plugins/{yaml_loader,json_loader,_flatten}.py:
per-environment blocks (``dq_env``), product-level defaults, normalization
to the 17-column schema. Driver-only, rule-scale work.

File shape (reference _flatten.py:120-232):

    product_id: my_product
    defaults:            # optional, merged into every rule
      table_name: db.tbl
    dq_env:              # optional env-specific overrides
      dev: {is_active: true}
      prod: {is_active: true}
    rules:
      - rule: qty_range
        rule_type: row_dq
        expectation: "quantity between 1 and 50"
        ...
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Any, Mapping, Optional

from ..core.rules import RULE_COLUMNS, DQRuleError, RuleSet

try:
    import yaml  # type: ignore
    _HAVE_YAML = True
except ImportError:  # pragma: no cover - environment without PyYAML
    _HAVE_YAML = False


def load_rules(
    path: str,
    *,
    env: Optional[str] = None,
    params: Optional[Mapping[str, Any]] = None,
) -> RuleSet:
    """Load a YAML or JSON rules file into a RuleSet (format by suffix)."""
    p = Path(path)
    text = p.read_text()
    if p.suffix.lower() in (".yaml", ".yml"):
        if not _HAVE_YAML:
            raise DQRuleError("PyYAML not available; use a JSON rules file")
        doc = yaml.safe_load(text)
    elif p.suffix.lower() == ".json":
        doc = json.loads(text)
    else:
        raise DQRuleError(f"unsupported rules file suffix: {p.suffix!r}")
    return rules_from_doc(doc, env=env, params=params)


def rules_from_doc(
    doc: Any,
    *,
    env: Optional[str] = None,
    params: Optional[Mapping[str, Any]] = None,
) -> RuleSet:
    """Normalize a parsed rules document (dict or list of dicts)."""
    docs = doc if isinstance(doc, list) else [doc]
    records: list[dict[str, Any]] = []
    for d in docs:
        if not isinstance(d, dict):
            raise DQRuleError(f"rules document must be a mapping, got {type(d).__name__}")
        if "product_id" not in d:
            raise DQRuleError("rules document missing 'product_id'")
        if "rules" not in d or not isinstance(d["rules"], list):
            raise DQRuleError("rules document missing 'rules' list")
        defaults = dict(d.get("defaults") or {})
        defaults["product_id"] = d["product_id"]
        # env blocks: case-insensitive key lookup (reference _flatten.py:166-187)
        env_overrides: dict[str, Any] = {}
        if env is not None and isinstance(d.get("dq_env"), dict):
            matches = [k for k in d["dq_env"]
                       if str(k).lower() == env.lower()
                       and isinstance(d["dq_env"][k], dict)]
            if len(matches) > 1:
                # two keys differing only by case: dict-iteration order
                # silently picking one is a config landmine — refuse
                raise DQRuleError(
                    f"ambiguous dq_env blocks for env {env!r}: {matches}")
            if matches:
                env_overrides = d["dq_env"][matches[0]]
        for r in d["rules"]:
            if not isinstance(r, dict):
                raise DQRuleError("each rule must be a mapping")
            rec = {**defaults, **r, **env_overrides}
            records.append({k: v for k, v in rec.items() if k in RULE_COLUMNS})
    return RuleSet.from_records(records, params=params)
