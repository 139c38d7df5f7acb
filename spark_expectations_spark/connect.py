"""Spark Connect support declaration + the one JVM-escape seam.

The reference accepts classic AND Connect frames through a conditional
type-alias union (core/expectations.py:43-72: probe
``pyspark.sql.connect``, union the DataFrame/SparkSession types when it
imports, fall back to the classic types otherwise). This module mirrors
that declaration and goes one step further: every place the engine
deliberately escapes to the JVM (``df._jdf``, ``sparkContext``) routes
through the two accessors here, so the Connect degradation story lives
in ONE documented seam instead of scattered try/excepts.

Support matrix (what degrades when a Connect frame arrives — every
entry is a soft degradation, never an error):

==========================  =================================================
surface                     under Spark Connect
==========================  =================================================
DQEngine.run / RuleSet      full — pure DataFrame-API engine path
row/agg/query dq stages     full — built on select/agg/sql only
sinks (batch + streaming)   full — DataFrameWriter API only
``plans.plan_text``         full — ``df.explain`` works over Connect
``plans.plan_lint``         full — string-parses the explain text
``plans.estimated_size``    unavailable (no ``_jdf``) → callers skip their
                            size-gated optimizations (``fan_out`` no-op)
``plans.execution_metrics`` returns ``{}`` (documented)
``plans.whole_stage_
codegen_spans``             falls back to the ``codegen`` explain count
query_dq runtime budget     no job-tag watchdog (no ``sparkContext``) —
                            the query runs un-timed (query_dq.py:54-83)
similarity broadcast        closure capture instead of ``sc.broadcast``
                            (similarity.py:44-60)
``sinks.layout`` fs ops     unavailable (Hadoop FS via ``_jvm``) — raises
                            the documented RuntimeError
``local_checkpoint_rdds``   returns ``{}`` and ``release_checkpoints`` does
                            nothing: the stream steps and
                            ``graph.connected_components`` leave their
                            checkpoints to the server
==========================  =================================================
"""

from __future__ import annotations

import importlib
import logging
from typing import Any, Optional, Union

from pyspark import sql as _sql

_log = logging.getLogger(__name__)
_logged_sites: set[str] = set()


def _debug_once(site: str, exc: BaseException) -> None:
    """Log the first Connect-degradation per seam at debug so a
    misrouted failure leaves a trace without spamming per-call."""
    if site not in _logged_sites:
        _logged_sites.add(site)
        _log.debug("%s unavailable (treating as Spark Connect): %r",
                   site, exc)


def is_connect_supported() -> bool:
    """True when this PySpark install can import the Connect client
    (the reference's check_if_pyspark_connect_is_supported — probe the
    module AND a class import, since pyspark ships the package but
    raises at import time when grpcio is absent)."""
    try:
        importlib.import_module("pyspark.sql.connect")
        from pyspark.sql.connect.column import Column  # noqa: F401
        return True
    except Exception:
        return False


if is_connect_supported():  # pragma: no cover - needs grpcio installed
    from pyspark.sql.connect.dataframe import (
        DataFrame as ConnectDataFrame,
    )
    from pyspark.sql.connect.session import (
        SparkSession as ConnectSparkSession,
    )

    AnyDataFrame = Union[_sql.DataFrame, ConnectDataFrame]
    AnySparkSession = Union[_sql.SparkSession, ConnectSparkSession]
else:
    ConnectDataFrame = None  # type: ignore[assignment,misc]
    ConnectSparkSession = None  # type: ignore[assignment,misc]
    AnyDataFrame = _sql.DataFrame  # type: ignore[misc]
    AnySparkSession = _sql.SparkSession  # type: ignore[misc]


def is_connect(obj: Any) -> bool:
    """True if ``obj`` is a Connect-side DataFrame/SparkSession. Duck
    check (module path), not isinstance: works on stubs and across
    pyspark versions, and never imports the connect package."""
    mod = type(obj).__module__ or ""
    return mod.startswith("pyspark.sql.connect")


def jvm_query_execution(df: Any) -> Optional[Any]:
    """THE DataFrame JVM escape: ``df._jdf.queryExecution()`` or
    ``None`` when the frame has no JVM handle (Spark Connect). Callers
    own their degraded path — returning an estimate of 0, an empty
    metrics dict, skipping a size-gated optimization — and the matrix
    above documents each.

    Only ``AttributeError`` is treated as "running under Connect"
    (Connect's ``__getattr__`` raises ``PySparkAttributeError``, an
    ``AttributeError`` subclass, for ``_jdf``); anything else — a
    stopped SparkContext, a py4j transport error — is a REAL failure
    and propagates instead of silently degrading the caller."""
    try:
        return df._jdf.queryExecution()
    except AttributeError as exc:
        _debug_once("df._jdf.queryExecution", exc)
        return None


def spark_context(spark: Any) -> Optional[Any]:
    """THE session JVM escape: ``spark.sparkContext`` or ``None`` under
    Connect (the property raises ``PySparkAttributeError`` there —
    connect/session.py's ``__getattr__`` JVM_ATTRIBUTE_NOT_SUPPORTED
    list). Used for query_dq's job-tag timeouts, explicit broadcasts,
    and Hadoop FS access — each caller's fallback is listed in the
    matrix above.
    Non-AttributeError failures propagate (same contract as
    :func:`jvm_query_execution`)."""
    try:
        return spark.sparkContext
    except AttributeError as exc:
        _debug_once("spark.sparkContext", exc)
        return None


def local_checkpoint_rdds(df: Any) -> dict:
    """``{rdd_id: JVM RDD}`` for every locally checkpointed RDD that
    ``df``'s plan reads (its ``LogicalRDD`` leaves), so a caller can
    unpersist the checkpoints it took; ``{}`` under Spark Connect,
    where the server owns checkpoints."""
    qe = jvm_query_execution(df)
    if qe is None:
        return {}
    leaves = qe.analyzed().collectLeaves()
    nodes = [leaves.apply(i) for i in range(leaves.size())]
    rdds = [n.rdd() for n in nodes
            if n.getClass().getSimpleName() == "LogicalRDD"]
    return {r.id(): r for r in rdds if r.isLocallyCheckpointed()}


def release_checkpoints(df: Any, keep: Any = None) -> None:
    """Unpersist the local checkpoints ``df`` reads — a caller's own
    ``localCheckpoint`` and any an operator took inside it
    (``bloom_might_contain`` checkpoints its word table) — except those
    ``keep`` also reads. Left alone, each one stays pinned for the life
    of the session. A no-op under Spark Connect (see
    :func:`local_checkpoint_rdds`). Each is dropped through the
    context's ``unpersistRDD``: ``RDD.unpersist`` would log a "cannot be
    recomputed" WARN per checkpoint, for a loss that is intended here."""
    kept = local_checkpoint_rdds(keep) if keep is not None else {}
    for rdd_id, rdd in local_checkpoint_rdds(df).items():
        if rdd_id not in kept:
            rdd.context().unpersistRDD(rdd_id, False)
