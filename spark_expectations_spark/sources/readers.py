"""Data-source conveniences (reference README.md:193-197 CSV ingestion,
examples/scripts rate-source streams). Thin, typed wrappers over
spark.read/readStream so user pipelines and tests share one entry point.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame, SparkSession


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    header: bool = True,
    infer_schema: bool = True,
    schema: Optional[str] = None,
    options: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    r = spark.read.option("header", str(header).lower())
    if schema:
        r = r.schema(schema)
    elif infer_schema:
        r = r.option("inferSchema", "true")
    for k, v in dict(options or {}).items():
        r = r.option(k, v)
    return r.csv(path)


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """JSONL ingest with malformed-line quarantine — the raw-crawl
    entry point: returns ``(good, bad)`` where ``good`` carries the
    typed rows (corrupt column dropped) and ``bad`` carries every
    unparseable line verbatim in ``corrupt_col`` for a quarantine sink
    (DROPMALFORMED silently deletes data; FAILFAST kills a 100 TB job
    on line one; this keeps both signal and evidence).

    Implemented as a TEXT scan + ``from_json`` rather than the native
    JSON source: Spark disallows queries that reference only the
    internal corrupt-record column of a raw JSON relation
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the usual
    workaround is caching the whole scan, a non-starter at 100 TB).
    Over a text relation both sides are ordinary projections: one
    line-splittable scan, two filtered views, the quarantine side
    carrying the offending line verbatim.

    ``schema`` is the DDL of the EXPECTED fields; the corrupt column is
    appended automatically and must not be declared in it."""
    from pyspark.sql import functions as F

    full = f"{schema}, {corrupt_col} string"
    raw = spark.read.text(path)
    parsed = raw.select(
        F.col("value"),
        F.from_json(F.col("value"), full,
                    {"mode": "PERMISSIVE",
                     "columnNameOfCorruptRecord": corrupt_col})
        .alias("__j"))
    good = (parsed.filter(F.col(f"__j.{corrupt_col}").isNull()
                          & F.col("__j").isNotNull())
            .select("__j.*").drop(corrupt_col))
    bad = (parsed.filter(F.col(f"__j.{corrupt_col}").isNotNull()
                         | F.col("__j").isNull())
           .select(F.col("value").alias(corrupt_col)))
    return good, bad


def read_table(spark: SparkSession, fmt: str, path: str,
               *, schema: Optional[str] = None,
               options: Optional[Mapping[str, str]] = None) -> DataFrame:
    """Format-dispatching reader — the batch twin of ``file_stream``.
    Columnar formats (parquet/orc) get predicate pushdown + column
    pruning for free; csv/json are row formats and should be converted
    on ingest for anything rescanned at scale."""
    r = spark.read.format(fmt)
    if schema:
        r = r.schema(schema)
    for k, v in dict(options or {}).items():
        r = r.option(k, v)
    return r.load(path)


def rate_stream(
    spark: SparkSession, *, rows_per_second: int = 100,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Synthetic stream (reference examples rate source)."""
    r = spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second))
    if num_partitions:
        r = r.option("numPartitions", str(num_partitions))
    return r.load()


def file_stream(
    spark: SparkSession, path: str, *, fmt: str = "parquet",
    schema: Optional[str] = None, options: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    r = spark.readStream.format(fmt)
    if schema:
        r = r.schema(schema)
    for k, v in dict(options or {}).items():
        r = r.option(k, v)
    return r.load(path)
