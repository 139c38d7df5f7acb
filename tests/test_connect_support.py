"""Spark Connect parity declaration (r13 verdict task 5).

The reference accepts classic and Connect frames via a conditional
type-alias union (core/expectations.py:43-72). These tests pin our
mirror of that declaration (``connect.py``): the union resolves, the
two JVM-escape accessors degrade to ``None`` on Connect-shaped objects
(stubbed — this container has no grpcio, the same environment the
reference's fallback branch exists for), and the plan helpers built on
the seam degrade exactly as the support matrix documents. When a real
Connect client IS importable, the union must include its classes.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_expectations_spark import connect  # noqa: E402


class _FakeConnectDataFrame:
    """Connect-shaped stub: no ``_jdf``, module path faked to the
    connect package the way a real client frame reports it."""


class _FakeConnectSession:
    @property
    def sparkContext(self):  # noqa: N802 - mirrors the real property
        # the real client raises PySparkAttributeError (an
        # AttributeError subclass) via __getattr__'s
        # JVM_ATTRIBUTE_NOT_SUPPORTED list — mirror that exactly
        raise AttributeError(
            "[JVM_ATTRIBUTE_NOT_SUPPORTED] sparkContext is not "
            "supported in Spark Connect")


_FakeConnectDataFrame.__module__ = "pyspark.sql.connect.dataframe"
_FakeConnectSession.__module__ = "pyspark.sql.connect.session"


class TestConnectDeclaration:
    def test_union_matches_availability(self):
        """The alias union mirrors the reference's conditional: classic
        types always; connect types exactly when the client imports."""
        from pyspark.sql import DataFrame, SparkSession

        if connect.is_connect_supported():
            args = connect.AnyDataFrame.__args__
            assert DataFrame in args
            assert connect.ConnectDataFrame in args
            sargs = connect.AnySparkSession.__args__
            assert SparkSession in sargs
            assert connect.ConnectSparkSession in sargs
        else:
            assert connect.AnyDataFrame is DataFrame
            assert connect.AnySparkSession is SparkSession
            assert connect.ConnectDataFrame is None

    def test_is_connect_duck_check(self, spark):
        assert connect.is_connect(_FakeConnectDataFrame())
        assert connect.is_connect(_FakeConnectSession())
        assert not connect.is_connect(spark)
        assert not connect.is_connect(spark.range(1))

    def test_jvm_accessors_degrade_to_none_on_connect_shapes(self):
        assert connect.jvm_query_execution(_FakeConnectDataFrame()) is None
        assert connect.spark_context(_FakeConnectSession()) is None

    def test_local_checkpoint_rdds(self, spark):
        """Classic frames list the local checkpoints their plan reads
        (and only those); Connect shapes list none."""
        assert connect.local_checkpoint_rdds(_FakeConnectDataFrame()) == {}
        assert connect.local_checkpoint_rdds(spark.range(3)) == {}
        ck = spark.range(3).localCheckpoint(eager=True)
        try:
            assert len(connect.local_checkpoint_rdds(ck.filter("id > 0"))) == 1
        finally:
            for rdd in connect.local_checkpoint_rdds(ck).values():
                rdd.unpersist(False)

    def test_jvm_accessors_work_on_classic(self, spark):
        df = spark.range(3)
        qe = connect.jvm_query_execution(df)
        assert qe is not None and "Range" in qe.optimizedPlan().toString()
        assert connect.spark_context(spark) is spark.sparkContext

    def test_non_connect_failures_propagate(self):
        """Only AttributeError reads as 'running under Connect' — a
        stopped context / py4j transport error must surface, not
        silently degrade the watchdog/broadcast/size-gate callers
        (ADVICE r14)."""
        import pytest as _pytest

        class _BrokenSession:
            @property
            def sparkContext(self):  # noqa: N802
                raise RuntimeError("SparkContext was shut down")

        class _BrokenFrame:
            @property
            def _jdf(self):
                raise RuntimeError("Py4JNetworkError: connection lost")

        with _pytest.raises(RuntimeError, match="shut down"):
            connect.spark_context(_BrokenSession())
        with _pytest.raises(RuntimeError, match="connection lost"):
            connect.jvm_query_execution(_BrokenFrame())


class TestConnectDegradation:
    """Each matrix row that is testable without a Connect server: the
    seam-routed helpers take the documented soft path on a frame with
    no JVM handle."""

    def test_estimated_size_raises_documented_error(self):
        from spark_expectations_spark import plans

        with pytest.raises(RuntimeError, match="Spark Connect"):
            plans.estimated_size_bytes(_FakeConnectDataFrame())

    def test_execution_metrics_empty(self):
        from spark_expectations_spark import plans

        class _Frame(_FakeConnectDataFrame):
            def toLocalIterator(self):  # noqa: N802
                return iter(())

        assert plans.execution_metrics(_Frame()) == {}

    def test_fan_out_no_op_without_jvm(self):
        from spark_expectations_spark import plans

        f = _FakeConnectDataFrame()
        assert plans.fan_out(f) is f

    def test_query_timeout_runs_unbudgeted(self):
        from spark_expectations_spark.operators.query_dq import (
            _run_with_timeout,
        )

        out, timed_out = _run_with_timeout(
            _FakeConnectSession(), lambda: 41 + 1, 0.001)
        assert (out, timed_out) == (42, False)

    def test_broadcast_degrades_to_closure_capture(self):
        from spark_expectations_spark.operators.similarity import (
            _broadcast_or_capture,
        )

        get = _broadcast_or_capture(_FakeConnectSession(), {"k": 1})
        assert get() == {"k": 1}

    def test_layout_fs_raises_clear_error(self):
        from spark_expectations_spark.sinks.layout import _hadoop_fs

        with pytest.raises(NotImplementedError, match="Spark Connect"):
            _hadoop_fs(_FakeConnectSession(), "/tmp/x")


class TestEngineOnConnectUnion:
    """The engine surface accepts any member of the union: run the real
    engine on a classic frame THROUGH the union-annotated signature
    (the only member constructible here), and skip-gate a true Connect
    round-trip on client availability — the reference's own test
    posture for environments without grpcio."""

    def test_engine_run_annotation_uses_union(self):
        import typing

        from spark_expectations_spark.core.engine import DQEngine

        hints = typing.get_type_hints(DQEngine.run)
        assert hints["df"] == connect.AnyDataFrame

    @pytest.mark.skipif(not connect.is_connect_supported(),
                        reason="pyspark.sql.connect not importable "
                               "(no grpcio in this environment)")
    def test_connect_client_roundtrip(self):  # pragma: no cover
        """Would exercise DQEngine.run on a Connect session; requires a
        grpcio-enabled install + a local connect server."""
        from pyspark.sql.connect.session import SparkSession as CSS

        assert CSS is not None
