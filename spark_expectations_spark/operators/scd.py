"""Slowly-changing-dimension (Type 2) history construction.

Given a change/event log — one row per observation of a key's attributes
at a timestamp — build the effective-dated dimension: one row per
(key, attribute-state) interval with ``valid_from`` / ``valid_to`` /
``is_current``. The reference engine has no dimensional operators (its
cross-snapshot checks are boolean query_dq assertions); this is the
history-tracking upgrade a warehouse DQ pipeline pairs with
``snapshot_diff``.

Scale shape: ONE shuffle (hash by key) and two window passes over it —
a lag() to drop no-op observations (attribute state unchanged since the
previous observation) and a lead() to close intervals. No self-join, no
driver state; 100 TB of change log streams through partition-local
sorts. Skewed keys (one entity with millions of updates) are a data
quality problem this surfaces rather than hides — key_skew_stats
(operators/skew.py) diagnoses them.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_changes(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    *,
    valid_from_out: str = "valid_from",
    valid_to_out: str = "valid_to",
    current_out: str = "is_current",
) -> DataFrame:
    """Collapse an observation log into Type-2 interval rows.

    * consecutive observations with identical ``attr_cols`` merge into
      one interval (first observation wins its ``valid_from``);
    * ``valid_to`` is the next differing observation's timestamp, NULL
      for the open (current) interval; intervals are [from, to);
    * ties on ``ts_col`` within a key keep the last row in attr order —
      callers should de-dup upstream if ties are meaningful.

    NULL-safe attribute comparison: NULL→value transitions open a new
    interval.
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    w = Window.partitionBy(*keys).orderBy(ts_col, *attrs)

    state = F.struct(*[F.col(a) for a in attrs])
    prev = F.lag(state).over(w)
    changed = prev.isNull() | ~prev.eqNullSafe(state)
    kept = (
        df.select(keys + [ts_col] + attrs)
        .withColumn("_new_interval", changed)
        .filter(F.col("_new_interval"))
        .drop("_new_interval")
    )
    # attrs in the ORDER BY keep interval closing deterministic when two
    # differing observations share a timestamp (degenerate [t, t) rows)
    w2 = Window.partitionBy(*keys).orderBy(ts_col, *attrs)
    nxt = F.lead(ts_col).over(w2)
    return (
        kept.withColumn(valid_from_out, F.col(ts_col))
        .withColumn(valid_to_out, nxt)
        .withColumn(current_out, nxt.isNull())
        .drop(ts_col)
    )


def scd2_point_in_time(
    history: DataFrame,
    at_ts,
    *,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slice a Type-2 history to the state as of ``at_ts`` — a pure
    filter ([from, to) containment), so partition/predicate pushdown
    applies and no shuffle is added."""
    at = F.lit(at_ts)
    return history.filter(
        (F.col(valid_from) <= at)
        & (F.col(valid_to).isNull() | (F.col(valid_to) > at))
    )
