"""WrappedDataFrameWriter: fluent writer-config builder for API parity with
the reference's public surface (core/expectations.py WrappedDataFrameWriter:
``writer.mode("append").format("delta").partitionBy(...)``). Builds a plain
WriterOptions consumed by sinks.writer / DQConfig.
"""

from __future__ import annotations

from typing import Any, Optional

from ..core.state import WriterOptions


class WrappedDataFrameWriter:
    def __init__(self) -> None:
        self._mode: str = "append"
        self._format: str = "parquet"
        self._partition_by: list[str] = []
        self._bucket_by: Optional[tuple[int, list[str]]] = None
        self._sort_by: list[str] = []
        self._options: dict[str, str] = {}
        self._path: Optional[str] = None
        self._output_mode: str = "append"
        self._trigger: Optional[dict[str, Any]] = None
        self._checkpoint: Optional[str] = None
        self._query_name: Optional[str] = None

    def mode(self, mode: str) -> "WrappedDataFrameWriter":
        self._mode = mode
        return self

    def format(self, fmt: str) -> "WrappedDataFrameWriter":
        self._format = fmt
        return self

    def partitionBy(self, *cols: str) -> "WrappedDataFrameWriter":
        self._partition_by = list(cols)
        return self

    def bucketBy(self, n: int, *cols: str) -> "WrappedDataFrameWriter":
        self._bucket_by = (n, list(cols))
        return self

    def sortBy(self, *cols: str) -> "WrappedDataFrameWriter":
        self._sort_by = list(cols)
        return self

    def option(self, key: str, value: Any) -> "WrappedDataFrameWriter":
        self._options[key] = str(value)
        return self

    def options(self, **kv: Any) -> "WrappedDataFrameWriter":
        for k, v in kv.items():
            self._options[k] = str(v)
        return self

    def path(self, path: str) -> "WrappedDataFrameWriter":
        self._path = path
        return self

    # -- streaming knobs ----------------------------------------------------
    def outputMode(self, mode: str) -> "WrappedDataFrameWriter":
        self._output_mode = mode
        return self

    def trigger(self, **kv: Any) -> "WrappedDataFrameWriter":
        self._trigger = dict(kv)
        return self

    def checkpointLocation(self, path: str) -> "WrappedDataFrameWriter":
        self._checkpoint = path
        return self

    def queryName(self, name: str) -> "WrappedDataFrameWriter":
        self._query_name = name
        return self

    def build(self) -> WriterOptions:
        return WriterOptions(
            format=self._format,
            mode=self._mode,
            partition_by=tuple(self._partition_by),
            bucket_by=(self._bucket_by[0], tuple(self._bucket_by[1]))
            if self._bucket_by else None,
            sort_by=tuple(self._sort_by),
            options=dict(self._options),
            path=self._path,
            output_mode=self._output_mode,
            trigger=self._trigger,
            checkpoint_location=self._checkpoint,
            query_name=self._query_name,
        )
