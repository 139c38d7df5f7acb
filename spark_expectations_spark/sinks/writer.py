"""Table sinks: batch + streaming writes, error/stats/detailed-stats frames.

Re-expresses reference sinks/utils/writer.py. Writes are thin wrappers over
DataFrameWriter / DataStreamWriter; the interesting parts are the audit
frame constructions (stats row, detailed stats full-outer join, querydq
output), which all operate on rule-scale data — a handful of rows — so the
driver-side assembly here never touches data-scale rows.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, IntegerType, LongType, MapType,
    StringType, StructField, StructType, TimestampType,
)

from ..core.state import DQResult, WriterOptions
from ..operators.row_dq import META_RUN_DATETIME, META_RUN_ID


def write_batch(df: DataFrame, table: str, opts: WriterOptions) -> None:
    """mode/format/partitionBy/sortBy/bucketBy/options
    (reference sinks/utils/writer.py:242-287)."""
    w = df.write.mode(opts.mode).format(opts.format)
    for k, v in dict(opts.options).items():
        w = w.option(k, v)
    if opts.partition_by:
        w = w.partitionBy(*opts.partition_by)
    if opts.bucket_by:
        n, cols = opts.bucket_by
        w = w.bucketBy(n, *cols)
        if opts.sort_by:
            w = w.sortBy(*opts.sort_by)
    if opts.path:
        w.save(opts.path.rstrip("/") + "/" + table)
    else:
        w.saveAsTable(table)


def write_stream(df: DataFrame, table: str, opts: WriterOptions):
    """writeStream with outputMode/trigger/queryName/auto-suffixed checkpoint
    (reference sinks/utils/writer.py:168-241)."""
    w = df.writeStream.outputMode(opts.output_mode).format(opts.format)
    for k, v in dict(opts.options).items():
        w = w.option(k, v)
    if opts.trigger:
        w = w.trigger(**dict(opts.trigger))
    w = w.queryName(opts.query_name or f"dq_{table}")
    ckpt = opts.checkpoint_location
    if ckpt:
        # per-table suffix so error + final streams don't collide
        w = w.option("checkpointLocation", ckpt.rstrip("/") + "/" + table)
    if opts.partition_by:
        w = w.partitionBy(*opts.partition_by)
    if opts.path:
        return w.start(opts.path.rstrip("/") + "/" + table)
    return w.toTable(table)


def stamp_run_metadata(df: DataFrame, run_id: str) -> DataFrame:
    """Append meta_dq_run_id / meta_dq_run_datetime (reference
    writer.py:1051-1053)."""
    return df.withColumn(META_RUN_ID, F.lit(run_id)).withColumn(
        META_RUN_DATETIME, F.current_timestamp()
    )


# ---------------------------------------------------------------------------
# Stats row (reference sinks/utils/writer.py:801-1009, schema :887-938)
# ---------------------------------------------------------------------------

_RESULTS_T = ArrayType(MapType(StringType(), StringType()))

STATS_SCHEMA = StructType([
    StructField("product_id", StringType()),
    StructField("table_name", StringType()),
    StructField("input_count", LongType()),
    StructField("error_count", LongType()),
    StructField("output_count", LongType()),
    StructField("output_percentage", FloatType()),
    StructField("success_percentage", FloatType()),
    StructField("error_percentage", FloatType()),
    StructField("source_agg_dq_results", _RESULTS_T, True),
    StructField("final_agg_dq_results", _RESULTS_T, True),
    StructField("source_query_dq_results", _RESULTS_T, True),
    StructField("final_query_dq_results", _RESULTS_T, True),
    StructField("row_dq_res_summary", _RESULTS_T, True),
    StructField("row_dq_error_threshold", _RESULTS_T, True),
    StructField("dq_status", MapType(StringType(), StringType()), True),
    StructField("dq_run_time", MapType(StringType(), DoubleType()), True),
    StructField("dq_rules", MapType(StringType(), MapType(StringType(), IntegerType())), True),
    StructField("meta_dq_run_id", StringType()),
    StructField("meta_dq_run_date", TimestampType()),
    StructField("meta_dq_run_datetime", TimestampType()),
])


def stats_df(spark: SparkSession, result: DQResult) -> DataFrame:
    rec = result.stats_record()
    rec["output_percentage"] = float(rec["output_percentage"])
    rec["success_percentage"] = float(rec["success_percentage"])
    rec["error_percentage"] = float(rec["error_percentage"])
    row = tuple(rec[f.name] for f in STATS_SCHEMA.fields)
    return spark.createDataFrame([row], STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Detailed stats: per-rule source/target outcomes full-outer-joined
# (reference sinks/utils/writer.py:504-622)
# ---------------------------------------------------------------------------

_DETAILED_KEY = ["run_id", "product_id", "table_name", "rule_type", "rule", "column_name"]

_DETAILED_HALF_SCHEMA = StructType(
    [StructField(c, StringType()) for c in _DETAILED_KEY]
    + [
        StructField("status", StringType(), True),
        StructField("actual_value", StringType(), True),
        StructField("expected", StringType(), True),
        StructField("failed_row_count", LongType(), True),
    ]
)


def _half_rows(result: DQResult, stage_results, row_counts: Optional[dict[str, int]] = None):
    rows = []
    for r in stage_results:
        rows.append((
            result.run_id, result.product_id, result.table_name,
            r.rule.rule_type, r.rule.rule, r.rule.column_name,
            r.status,
            None if r.actual_value is None else str(r.actual_value),
            r.expected,
            None,
        ))
    for rule, cnt in (row_counts or {}).items():
        rows.append((
            result.run_id, result.product_id, result.table_name,
            "row_dq", rule, "",
            "fail" if cnt else "pass", str(cnt), "0 failed rows", int(cnt),
        ))
    return rows


def detailed_stats_df(spark: SparkSession, result: DQResult) -> DataFrame:
    """source × target per-rule outcomes, aligned by full outer join on the
    6-column rule key (reference writer.py:608-612). Both sides are
    rule-scale (tens of rows) — the join is trivially broadcastable and
    Catalyst handles it; correctness of the full_outer shape is what we keep.
    """
    src = spark.createDataFrame(
        _half_rows(result, result.source_agg + result.source_query,
                   result.row_summary.rule_failed_counts if result.row_summary else {}),
        _DETAILED_HALF_SCHEMA,
    )
    tgt = spark.createDataFrame(
        _half_rows(result, result.target_agg + result.target_query),
        _DETAILED_HALF_SCHEMA,
    )
    s, t = src.alias("s"), tgt.alias("t")
    joined = s.join(t, on=_DETAILED_KEY, how="full_outer")
    return joined.select(
        *_DETAILED_KEY,
        F.col("s.status").alias("source_dq_status"),
        F.col("s.actual_value").alias("source_dq_actual_outcome"),
        F.col("s.expected").alias("source_dq_expected_outcome"),
        F.col("s.failed_row_count").alias("source_dq_actual_row_count"),
        F.col("t.status").alias("target_dq_status"),
        F.col("t.actual_value").alias("target_dq_actual_outcome"),
        F.col("t.expected").alias("target_dq_expected_outcome"),
        F.col("t.failed_row_count").alias("target_dq_actual_row_count"),
        F.lit(result.run_date).alias("dq_date"),
        F.lit(result.run_date).alias("dq_time"),
    )


# ---------------------------------------------------------------------------
# Query-dq custom output (reference sinks/utils/writer.py:455-502)
# ---------------------------------------------------------------------------

_QUERYDQ_OUTPUT_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("product_id", StringType()),
    StructField("table_name", StringType()),
    StructField("rule", StringType()),
    StructField("column_name", StringType()),
    StructField("alias", StringType()),
    StructField("dq_type", StringType()),
    StructField("source_output", StringType(), True),
    StructField("dq_time", TimestampType()),
])


def querydq_output_df(spark: SparkSession, result: DQResult) -> DataFrame:
    import json

    rows = []
    for prefix, results in (("_source_dq", result.source_query),
                            ("_target_dq", result.target_query)):
        for r in results:
            for alias, records in r.secondary_output.items():
                rows.append((
                    result.run_id, result.product_id, result.table_name,
                    r.rule.rule, r.rule.column_name, alias, prefix,
                    json.dumps({alias: records}, default=str, sort_keys=True),
                    result.run_date,
                ))
    return spark.createDataFrame(rows, _QUERYDQ_OUTPUT_SCHEMA)


def get_table_properties(spark: SparkSession, table: str) -> dict[str, str]:
    """SHOW TBLPROPERTIES → dict (reference sinks/utils/writer.py:46-90)."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    return {r["key"]: r["value"] for r in rows}


def set_table_properties(
    spark: SparkSession, table: str, props: dict[str, str],
    *, retries: int = 3, backoff_s: float = 1.0,
) -> None:
    """ALTER TABLE ... SET TBLPROPERTIES with retry/backoff — concurrent
    streaming writers race on the metastore (reference writer.py:91-128)."""
    import time as _time

    def q(s) -> str:
        # double embedded quotes: a value like "it's v2" must not break
        # the statement (or smuggle SQL into it)
        return str(s).replace("'", "''")

    kv = ", ".join(f"'{q(k)}'='{q(v)}'" for k, v in props.items())
    last: Optional[Exception] = None
    for attempt in range(retries):
        try:
            spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
            return
        except Exception as e:  # metastore contention; retry
            last = e
            _time.sleep(backoff_s * (2 ** attempt))
    raise last  # type: ignore[misc]


def materialize_temp_table(
    df: DataFrame, table: str, opts: WriterOptions
) -> DataFrame:
    """Write df to ``{table}_temp`` and re-read — severs lineage so
    downstream stages re-plan from a materialized scan (reference
    core/expectations.py:492-521 'break the spark plan'). Within one
    session, ``df.localCheckpoint()`` cuts lineage without a table.

    The temp write always OVERWRITES: it is a per-run plan break, and
    honoring a caller's default append mode would accumulate every
    prior run's rows in ``{table}_temp`` and feed them back into this
    run's input."""
    import dataclasses

    tmp = f"{table}_temp"
    write_batch(df, tmp, dataclasses.replace(opts, mode="overwrite"))
    spark = df.sparkSession
    if opts.path:
        return spark.read.format(opts.format).load(opts.path.rstrip("/") + "/" + tmp)
    return spark.table(tmp)


def kafka_connector_available(spark) -> bool:
    """True when the spark-sql-kafka connector is on the classpath.

    Probes the DataSource registry by asking the ``kafka`` format to
    validate (empty) options: a missing connector fails lookup with
    DATA_SOURCE_NOT_FOUND / "Failed to find data source", while a
    present connector raises an option-validation error instead. Lets
    ``stats_to_kafka`` callers and the jar-gated smoke test skip cleanly
    in connector-less environments instead of dying on ClassNotFound."""
    try:
        spark.read.format("kafka").load()
    except Exception as exc:  # noqa: BLE001 - classifying, not handling
        msg = str(exc)
        if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg:
            return False
        return True  # connector resolved; it complained about options
    return True


def stats_to_kafka(result_df: DataFrame, topic: str, options: dict[str, str],
                   secret_resolver=None) -> None:
    """Stats row → JSON → Kafka (reference sinks/plugins/kafka_writer.py:59-61).

    Requires the Kafka connector on the classpath; caller gates
    availability. Option values may be ``secret://`` refs (secrets.py
    seam), resolved only here at write time — the config dicts built by
    ``sinks/kafka.py`` and stored in user conf never need plaintext
    credentials.
    """
    from ..secrets import resolve_options

    out = result_df.selectExpr("to_json(struct(*)) AS value")
    w = out.write.format("kafka").option("topic", topic)
    for k, v in resolve_options(options, secret_resolver).items():
        w = w.option(k, v)
    w.save()


def stats_from_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Inverse of ``stats_to_kafka``'s serialization: parse a JSON stats
    payload column back into typed columns (reference
    sinks/plugins/kafka_writer.py:50-57 — ``from_json(schema_of_json(...))``).

    The schema is inferred from ONE sample payload (a driver-side
    ``first()``, not a scan), then applied as a literal — so the parse
    itself is a single codegen'd projection on executors.
    """
    from pyspark.sql import functions as F

    sample = df.select(value_col).first()
    if sample is None or sample[0] is None:
        raise ValueError(f"no sample payload in column {value_col!r}")
    schema = F.schema_of_json(F.lit(sample[0]))
    return df.select(F.from_json(F.col(value_col), schema).alias("_s")) \
             .select("_s.*")


def upsert_partitioned(
    spark,
    table_path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_col: str,
    *,
    order_col: Optional[str] = None,
) -> None:
    """MERGE/upsert into a partitioned parquet directory WITHOUT a table
    format (the Delta/Iceberg-less lake pattern): rewrite ONLY the
    partitions the updates touch.

    1. distinct partition values in ``updates`` (a driver-sized list);
    2. read just those partitions (partition pruning — the 100 TB table's
       other partitions are never opened);
    3. anti-join existing rows against update keys, union the updates;
    4. write back with dynamic partition overwrite, so untouched
       partitions' files are left in place.

    ``order_col`` (optional) deduplicates updates themselves, keeping
    the highest value per KEY — across partitions too: a key whose
    latest update moved it to a new partition value keeps only the
    winner, and the partitions its LOSING rows pointed at are still
    rewritten (so the key's old on-disk row is removed rather than
    left as a duplicate).

    Partition-move contract: moves are resolved WITHIN one ``updates``
    batch. A key that moved in an EARLIER call keeps its old on-disk
    row unless this batch also touches that partition — only touched
    partitions are ever read or rewritten (that pruning is the whole
    point at 100 TB; the table cannot be scanned for stale keys). For
    cross-call moves, include the key's before-image row (old
    partition value) in ``updates`` — the CDC delete+insert shape —
    so both partitions land in the touched set.

    First run bootstraps: a missing ``table_path`` is created from the
    updates alone (same first-batch behavior as the streaming corpus
    sink).

    Not transactional — a concurrent reader can see a partition mid-swap;
    table formats exist for that. The I/O shape, though, is the right
    one: cost scales with touched partitions, not table size.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    if partition_col not in updates.columns:
        raise ValueError(f"updates must carry partition column {partition_col!r}")
    # touched partitions come from the PRE-dedup updates: a key that
    # moved partitions must rewrite its old partition too
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not touched:
        return
    if order_col:
        # tie-break on the partition value so equal order_col rows of a
        # key pick a deterministic winner
        w = _dedup_window(list(key_cols), order_col,
                          tie_breaker=partition_col)
        updates = (updates.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1).drop("_rn"))
    # The bootstrap catch wraps ONLY the table read: a missing path is
    # "first run", but an AnalysisException from the join/union below
    # (schema mismatch, typo'd key column) must propagate — swallowing
    # it would make merged=updates and dynamic overwrite would silently
    # drop every existing row in the touched partitions.
    try:
        table = spark.read.parquet(table_path)
        # force analysis inside the guarded region: spark.read.parquet
        # can defer PATH_NOT_FOUND until the schema is first needed
        table.schema
    except AnalysisException:  # first run: no table yet — bootstrap
        merged = updates
    else:
        # the partition filter resolves OUTSIDE the guard: an on-disk
        # table that lacks partition_col is schema drift, not "no table
        # yet" — swallowing it would skip the merge and leave stale
        # keyed rows next to the new writes
        existing = table.filter(F.col(partition_col).isin(touched))
        merged = (
            existing.join(updates.select(*key_cols).distinct(),
                          list(key_cols), "left_anti")
            .unionByName(updates.select(*existing.columns))
        )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (merged.write.mode("overwrite").partitionBy(partition_col)
         .parquet(table_path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _dedup_window(partition_cols: Sequence[str], order_col: str,
                  *, tie_breaker: Optional[str] = None):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    order = [F.col(order_col).desc()]
    if tie_breaker:
        order.append(F.col(tie_breaker).asc())
    return Window.partitionBy(*partition_cols).orderBy(*order)
