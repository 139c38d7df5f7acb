"""spark_expectations_spark — a PySpark-native data-quality / analytics engine.

Brand-new implementation of the capabilities of Nike-Inc/spark-expectations
(reference read-only at /root/reference), re-expressed Spark-first: fused
single-pass rule projection, one-job count summarization, scalar-subquery
query rules, plus large-scale training-data operators (dedup, similarity
search, text analysis, multimodal plumbing) the reference lacks.
"""

from .core.engine import DQEngine, reprocess_quarantine
from .core.rules import (
    ACTION_DROP,
    ACTION_FAIL,
    ACTION_IGNORE,
    AGG_DQ,
    QUERY_DQ,
    ROW_DQ,
    RULE_COLUMNS,
    DQRuleError,
    Rule,
    RuleSet,
)
from .core.state import DQConfig, DQResult, WriterOptions
from . import rules_presets, session
from .operators.agg_dq import DQAggFailError
from .operators.row_dq import DQRowFailError
from .secrets import (
    ChainSecretResolver,
    DictSecretResolver,
    EnvSecretResolver,
    SecretResolver,
)

__version__ = "0.1.0"

__all__ = [
    "session",
    "DQEngine", "reprocess_quarantine", "Rule", "RuleSet", "DQConfig",
    "DQResult",
    "WriterOptions", "DQRuleError", "DQRowFailError", "DQAggFailError",
    "ROW_DQ", "AGG_DQ", "QUERY_DQ", "ACTION_IGNORE", "ACTION_DROP",
    "ACTION_FAIL", "RULE_COLUMNS",
    "SecretResolver", "EnvSecretResolver", "DictSecretResolver",
    "ChainSecretResolver", "rules_presets",
]
