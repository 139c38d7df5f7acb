"""Streaming DQ.

Two tiers (SURVEY.md §2.9):

* Reference parity — handled inside ``DQEngine.run`` for a streaming frame:
  row rules + drop filtering applied statelessly; agg/query stages and the
  fail gate skipped (uncountable mid-stream; reference
  core/expectations.py:523-546, utils/actions.py:657-665).

* The idiomatic upgrade — ``foreach_batch_dq`` runs the FULL 5-stage batch
  engine on every micro-batch via foreachBatch, so agg/query rules and
  fail actions are enforceable per micro-batch; plus watermark/window
  helpers for event-time rules.

State recipe. foreachBatch is at-least-once: after a failure the SAME
(batch_id, offsets) is replayed, and Spark's contract is "use batchId to
deduplicate". Every disk-state step here (the ``incremental_*`` builders,
the dedup / fuzzy-match / Bloom / k-means / drift-verdict sinks) keeps it
the same way:

1. Write, don't update: each micro-batch writes ONLY its own increment
   as the ``_batch_id=<id>`` partition, with dynamic partition
   overwrite, so a replayed batch replaces its partition instead of
   appending a second copy.
   The k-means codebook is the one state that replaces instead of
   adding: it keeps two slots (``_slot=0`` / ``_slot=1``, with
   ``_batch_id`` a data column), and each batch overwrites the slot
   that does NOT hold the version it read. The state then holds at
   most two versions, and a failed or replayed batch never touches
   what it read.
2. Merge on read: readers fold the partitions with the state's merge —
   SUM for counts, OR for bitmaps and Bloom words, latest version for the
   k-means codebook — so the per-batch write never reads history.
3. Exclude the current batch on read: a step that reads its own state
   first drops the current batch id's rows (a failed attempt's
   half-written increment), so a replay sees exactly what the first
   attempt saw.
4. Compact at quiescence, to a new path: the ``compact_*`` functions fold
   the partitions into one (``_batch_id=0``) at ``out_path``; swap the
   stream onto it after its last pre-compaction batch commits. Additive
   state must not be compacted while a batch may still replay into the
   old path (its increment would then count in both). The Bloom store is
   the exception: ``compact_bloom_state`` truncates in place.
"""

from __future__ import annotations

import math
from typing import Callable, Optional, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..connect import release_checkpoints
from ..core.engine import DQEngine
from ..core.rules import RuleSet
from ..core.state import DQConfig, DQResult


def foreach_batch_dq(
    stream_df: DataFrame,
    rules: RuleSet,
    config: DQConfig,
    *,
    on_result: Optional[Callable[[int, DQResult], None]] = None,
    checkpoint_location: Optional[str] = None,
    trigger: Optional[dict] = None,
    query_name: str = "dq_foreach_batch",
):
    """Run the full batch DQ engine per micro-batch.

    Returns the started StreamingQuery. Each micro-batch gets the complete
    treatment — source agg/query dq, row dq with drop/fail actions, error
    and stats writes per ``config`` — with batch semantics (counts are per
    micro-batch). ``on_result(batch_id, DQResult)`` receives every
    outcome; a raised DQ*FailError inside fails the streaming query, which
    is exactly the 'fail' action contract.
    """
    engine = DQEngine(config)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        result = engine.run(batch_df, rules, batch_df.sparkSession)
        if on_result is not None:
            on_result(batch_id, result)

    writer = stream_df.writeStream.foreachBatch(process).queryName(query_name)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def query_progress(query) -> dict:
    """Last-progress metrics of a StreamingQuery (reference
    sinks/utils/writer.py:1211-1260): rows/sec, batch duration, state."""
    p = query.lastProgress or {}
    return {
        "id": str(query.id),
        "name": query.name,
        "is_active": query.isActive,
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
        "num_input_rows": p.get("numInputRows"),
        "batch_id": p.get("batchId"),
    }


def stop_gracefully(query, *, timeout_s: float = 30.0) -> bool:
    """Stop after the in-flight batch finishes; hard-stop at timeout
    (reference writer.py:1261-1313). Returns True if stopped cleanly."""
    import time

    deadline = time.time() + timeout_s
    try:
        while query.isActive and time.time() < deadline:
            status = query.status or {}
            if not status.get("isDataAvailable") and not status.get("isTriggerActive"):
                break
            time.sleep(0.5)
    finally:
        query.stop()
    try:
        query.awaitTermination(max(1, int(deadline - time.time())))
    except Exception:
        pass
    return not query.isActive


def with_event_time(
    df: DataFrame, ts_col: str, *, watermark: str = "10 minutes"
) -> DataFrame:
    """Attach a watermark for late-data handling on event-time rules."""
    return df.withWatermark(ts_col, watermark)


def tumbling_counts(
    df: DataFrame,
    ts_col: str,
    *,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of the
    batch events_hourly query; usable as a streaming agg_dq substrate."""
    w = df.withWatermark(ts_col, watermark)
    return (
        w.groupBy(F.window(F.col(ts_col), window).alias("win"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                *group_cols, "n_events")
    )


def windowed_topk(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    sink: Optional[Callable[[DataFrame, int], None]] = None,
    checkpoint_location: Optional[str] = None,
    query_name: str = "windowed_topk",
    trigger: Optional[dict] = None,
):
    """Streaming top-k keys per event-time window — the streaming twin
    of the batch ``events_window_topk`` catalog query.

    Rank windows aren't stream-native (no row_number over an unbounded
    stream), so the standard decomposition applies: the STATEFUL half
    (tumbling counts) runs on the stream, and the rank runs per
    micro-batch inside foreachBatch over that already-aggregated,
    windows×keys-sized frame. The aggregation runs in COMPLETE output
    mode — ranking needs every window's FULL current key set each
    trigger; update mode would deliver only the keys that changed,
    and a rank over that partial frame can crown a non-top key (rk=1
    for whatever happened to update). The trade, documented: complete
    mode keeps all windows' counts in state (the watermark can't evict)
    — right for dashboard-sized windows×keys cardinality and live
    always-current rankings, wrong for long-running streams; for those
    use :func:`windowed_topk_append`, whose state is watermark-bounded
    (each window's top-k lands once, at finalization). Returns the
    started StreamingQuery.
    """
    return _start_windowed_topk(
        df, ts_col, key_col, k=k, window=window, watermark=watermark,
        sink=sink, checkpoint_location=checkpoint_location,
        query_name=query_name, trigger=trigger, output_mode="complete")


def _start_windowed_topk(df, ts_col, key_col, *, k, window, watermark,
                         sink, checkpoint_location, query_name, trigger,
                         output_mode):
    """Shared body of windowed_topk / windowed_topk_append — identical
    counts + per-batch rank + writer plumbing; only outputMode differs
    (complete = live full rankings & unbounded state, append =
    finalized-once rankings & watermark-bounded state)."""
    counts = tumbling_counts(
        df, ts_col, window=window, watermark=watermark,
        group_cols=(key_col,))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col(key_col).asc())
        ranked = (batch_df.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k))
        if sink is not None:
            sink(ranked, batch_id)

    writer = (counts.writeStream.outputMode(output_mode)
              .foreachBatch(process).queryName(query_name))
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def windowed_topk_append(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    sink: Optional[Callable[[DataFrame, int], None]] = None,
    checkpoint_location: Optional[str] = None,
    query_name: str = "windowed_topk_append",
    trigger: Optional[dict] = None,
):
    """Bounded-state streaming top-k: per-window FINALIZED rankings in
    APPEND output mode — the long-running-stream twin of
    :func:`windowed_topk` (round-4 verdict item 5).

    The tumbling counts run in append mode, so a (window, key) count
    row is emitted exactly once — when the watermark passes the window
    end — and the window's state is evicted right after. Total state is
    bounded by the in-flight windows inside the watermark horizon, not
    by every window the stream has ever seen (complete mode's unbounded
    growth). Correctness of the per-batch rank follows from append
    semantics: the micro-batch in which a window finalizes carries that
    window's COMPLETE key set (all its groups expire together when the
    watermark crosses), so ``row_number`` inside foreachBatch ranks a
    full frame — the partial-frame hazard that rules update mode out
    does not arise.

    The trade vs complete mode: results arrive one watermark-delay
    late, once per window (no live-updating leaderboard). That is the
    right contract for feeding a downstream table/alert pipeline;
    complete mode remains the right one for a small always-current
    dashboard. Returns the started StreamingQuery.
    """
    return _start_windowed_topk(
        df, ts_col, key_col, k=k, window=window, watermark=watermark,
        sink=sink, checkpoint_location=checkpoint_location,
        query_name=query_name, trigger=trigger, output_mode="append")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "10 minutes",
    within: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a symmetric event-time
    range bound (|left_ts − right_ts| ≤ ``within``).

    Both inputs are buffered in the state store; the watermark plus the
    range condition is what lets Spark EVICT that state — without them an
    inner join's state grows unboundedly and an outer join can never emit
    its null side. State per key is bounded by watermark + within, so
    this scales with arrival rate, not stream lifetime.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        f"l.{on} = r.{on} "
        f"AND r.{right_ts} >= l.{left_ts} - INTERVAL {within} "
        f"AND r.{right_ts} <= l.{left_ts} + INTERVAL {within}"
    )
    return lw.join(rw, cond, how)


def streaming_dedup(
    df: DataFrame,
    keys: tuple[str, ...],
    *,
    ts_col: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful exact dedup on a stream.

    With ``ts_col``, uses ``dropDuplicatesWithinWatermark`` — state for a
    key is dropped once the watermark passes it, so state size is bounded
    by the watermark horizon (the only deploy-safe option for unbounded
    streams). Without a timestamp column, plain ``dropDuplicates`` keeps
    all keys in state forever — fine for finite key domains only.
    """
    if ts_col is not None:
        return df.withWatermark(ts_col, watermark) \
                 .dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stateful_threshold_monitor(
    df: DataFrame,
    key_col: str,
    flag_col: str,
    *,
    threshold: int,
    timeout_minutes: int = 0,
):
    """Custom stateful operator: per-key cumulative failed-row counter
    that emits a row whenever a key CROSSES ``threshold`` total failures
    across micro-batches — the streaming analogue of the reference's
    error-drop-threshold alert (notifications/push/
    spark_expectations_notify.py:253-343), which the batch engine can
    only evaluate per run.

    Implemented with ``applyInPandasWithState``: state is one (long)
    counter per key — O(distinct keys) — and each micro-batch group
    arrives as Arrow-batched pandas, so the update is a vectorized sum,
    not per-row Python. With ``timeout_minutes`` > 0, idle keys are
    evicted via processing-time timeout to bound state.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # key type mirrors the input (string product ids are the norm for
    # DQ grouping — a hardcoded long would die in Arrow conversion)
    key_t = df.schema[key_col].dataType.simpleString()
    out_schema = (f"{key_col} {key_t}, total_failed long, "
                  "crossed_at_batch_rows long")
    state_schema = "total long"
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if timeout_minutes
               else GroupStateTimeout.NoTimeout)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        batch_failed = 0
        batch_rows = 0
        for pdf in pdfs:
            batch_rows += len(pdf)
            batch_failed += int(pdf[flag_col].sum())
        (prev,) = state.get if state.exists else (0,)
        total = prev + batch_failed
        state.update((total,))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        if prev < threshold <= total:
            import pandas as pd
            yield pd.DataFrame({
                key_col: [key[0]],
                "total_failed": [total],
                "crossed_at_batch_rows": [batch_rows],
            })

    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout)


def session_counts(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session-window counts per key (F.session_window) — streaming twin of
    the batch events_sessions query."""
    w = df.withWatermark(ts_col, watermark)
    return (
        w.groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col(key_col),
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"), "n_events")
    )


def running_error_rate(
    df: DataFrame,
    key_col: str,
    flag_col: str,
):
    """Per-key cumulative DQ error rate on the Spark 4 arbitrary-state
    API (``transformWithStateInPandas`` + ``StatefulProcessor``) — the
    successor to ``applyInPandasWithState`` used by
    ``stateful_threshold_monitor``; both surfaces are covered so users on
    either API have a reference implementation.

    State is one (rows, errors) pair per key in a typed ValueState
    (RocksDB-backed — the provider transformWithState requires), updates
    are vectorized pandas sums per Arrow batch, and every micro-batch
    emits the key's refreshed cumulative rate. O(distinct keys) state.

    Runtime requires ``google.protobuf`` (the TWS state-server protocol);
    environments without it should use ``stateful_threshold_monitor``'s
    applyInPandasWithState surface instead.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField(key_col, df.schema[key_col].dataType),
        StructField("total_rows", LongType()),
        StructField("total_errors", LongType()),
        StructField("error_rate", DoubleType()),
    ])

    class _Proc(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getValueState(
                "counts", "rows BIGINT, errors BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = e = 0
            for pdf in rows:
                n += len(pdf)
                e += int(pdf[flag_col].sum())
            if self._counts.exists():
                prev = self._counts.get()
                n += int(prev[0])
                e += int(prev[1])
            self._counts.update((n, e))
            yield pd.DataFrame({
                key_col: [key[0]],
                "total_rows": [n],
                "total_errors": [e],
                "error_rate": [e / n if n else 0.0],
            })

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        _Proc(), outputStructType=out_schema, outputMode="Update",
        timeMode="None")


def idempotent_foreach_batch(
    process: Callable[[DataFrame, int], None],
    state_table: str,
    *,
    stream_id: str = "default",
):
    """Wrap a foreachBatch function with batch-id dedup so sink writes are
    exactly-once across restarts.

    foreachBatch gives at-least-once: after a crash between the sink
    write and the checkpoint commit, the SAME (batch_id, data) is
    replayed. Spark's own contract is "use batchId to deduplicate" —
    this wrapper implements that contract once: the last fully-processed
    batch id is persisted in ``state_table``'s TBLPROPERTIES (same
    retry-hardened DDL slot the incremental-DQ watermark uses) and
    replayed batches are skipped. State is one integer per stream; the
    check is a driver-side metastore read per micro-batch.

    ``stream_id`` names the CHECKPOINT LINEAGE the batch ids belong to
    and is part of the property key. Batch ids are only monotonic
    within one checkpoint: deleting/moving the checkpoint restarts them
    at 0, and a stale stored id would then silently skip every batch
    until the old maximum is exceeded. Starting over with a fresh
    checkpoint ⇒ pass a fresh ``stream_id`` (e.g. derive it from the
    checkpoint path).
    """
    from ..sinks.writer import get_table_properties, set_table_properties

    prop = f"spark_expectations.last_batch_id.{stream_id}"
    # pre-suffix releases stored the id under an unsuffixed key; for the
    # default stream that state must keep counting (ADVICE r5: ignoring
    # it re-executes one replayed micro-batch after upgrade — a
    # duplicate sink write despite the exactly-once contract)
    legacy_prop = ("spark_expectations.last_batch_id"
                   if stream_id == "default" else None)

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        props = get_table_properties(spark, state_table)
        last = props.get(prop)
        if last is None and legacy_prop is not None:
            last = props.get(legacy_prop)
        if last is not None and int(last) >= batch_id:
            return  # replay of an already-committed batch
        process(batch_df, batch_id)
        set_table_properties(spark, state_table, {prop: str(batch_id)})

    return wrapped


def _psi(base: dict, cur: dict) -> float:
    """Population stability index of two bucket → proportion maps, each
    side floored at ``operators/drift._EPS`` (a bucket missing on one
    side stays finite)."""
    from ..operators.drift import _EPS

    psi = 0.0
    for b in set(base) | set(cur):
        p = max(base.get(b, 0.0), _EPS)
        q = max(cur.get(b, 0.0), _EPS)
        psi += (p - q) * math.log(p / q)
    return psi


def drift_monitor(
    stream_df: DataFrame,
    col: str,
    baseline_edges: list,
    baseline_props: dict,
    *,
    threshold: float = 0.25,
    on_drift: Optional[Callable[[int, float], None]] = None,
    checkpoint_location: Optional[str] = None,
    query_name: str = "dq_drift_monitor",
):
    """Per-micro-batch PSI of ``col`` against a FROZEN baseline histogram
    (operators/drift.py semantics on a stream).

    ``baseline_edges``/``baseline_props`` come from a batch profiling
    pass (`drift.quantile_edges` + bucket proportions collected once) —
    the baseline is driver-held constants, so each micro-batch adds one
    small aggregation, no stream-stream state: the batch's
    ``drift.histogram_snapshot`` (the drift family's bucket rule, NULLs
    to bucket 0), collected and folded into PSI driver-side.
    ``on_drift(batch_id, psi)`` fires when PSI crosses ``threshold``;
    wire it to a NotificationHub channel for alerting.
    """
    from ..operators.drift import histogram_snapshot

    edges = {col: list(baseline_edges)}
    base = {int(k): float(v) for k, v in baseline_props.items()}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = histogram_snapshot(batch_df, edges).collect()
        total = sum(r.n for r in rows)
        if not total:
            return
        psi = _psi(base, {r.bucket: r.n / total for r in rows})
        if psi > threshold and on_drift is not None:
            on_drift(batch_id, psi)

    writer = stream_df.writeStream.foreachBatch(process).queryName(query_name)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()


def _write_increment(df: DataFrame, path: str, batch_id: int,
                     slot: Optional[int] = None) -> None:
    """Write ``df`` as partition ``_batch_id=batch_id`` of ``path`` with
    dynamic partition overwrite — step 1 of the module's State recipe:
    a replay replaces its own partition and leaves the others alone.
    With ``slot`` the partition is ``_slot=slot`` instead and
    ``_batch_id`` a data column (the codebook's two-slot rule)."""
    df, part = df.withColumn("_batch_id", F.lit(batch_id)), "_batch_id"
    if slot is not None:
        df, part = df.withColumn("_slot", F.lit(slot)), "_slot"
    (df.write.mode("overwrite").partitionBy(part)
     .option("partitionOverwriteMode", "dynamic")
     .parquet(path))


def _increment_step(
    state_path: str, snapshot: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch step that writes ``snapshot(batch_df)`` as the
    batch's increment of the state at ``state_path``."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        _write_increment(snapshot(batch_df), state_path, batch_id)

    return step


def _prior_state(spark, path: str, batch_id: int) -> Optional[DataFrame]:
    """The state at ``path`` as the current batch must see it — without
    its own ``_batch_id`` partition (step 3 of the State recipe) — or
    ``None`` when there is no state yet. Only a missing path / empty dir
    (``AnalysisException``) means "no state": any other error
    (corruption, permissions) propagates, because guessing "empty" would
    silently re-admit duplicates or mark every key unseen."""
    try:
        state = spark.read.parquet(path)
    except AnalysisException:
        return None
    if "_batch_id" not in state.columns:  # pre-stamping layout
        return state
    state = state.filter(F.col("_batch_id") != batch_id)
    # a pre-stamping index keeps its root-level files, which partition
    # discovery skips once stamped partitions sit beside them; the glob
    # reads exactly those files (it does not descend into partitions)
    try:
        legacy = spark.read.parquet(f"{path.rstrip('/')}/*.parquet")
    except AnalysisException:
        return state
    return state.unionByName(legacy, allowMissingColumns=True)


def _sum_state(spark, path: str, key_cols: Sequence[str],
               sum_cols: Sequence[str],
               carry_cols: Sequence[str] = ()) -> DataFrame:
    """The additive merge: one row per ``key_cols`` with every
    ``sum_cols`` summed over all batch partitions and each key-constant
    ``carry_cols`` passenger taken by MAX."""
    return (spark.read.parquet(path).groupBy(*key_cols)
            .agg(*[F.max(c).alias(c) for c in carry_cols],
                 *[F.sum(c).alias(c) for c in sum_cols]))


def incremental_bitmap_distinct(
    state_path: str,
    group_cols: list,
    value_col: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step maintaining EXACT streaming distinct counts
    with disk-backed bitmap state — the unbounded-horizon complement to
    ``approx_count_distinct`` watermark aggregations, for integral keys
    (distinct users ever seen per type, distinct docs per source across
    a whole crawl).

    Snapshot: the batch's per-(group, bucket) bitmaps
    (``operators/sketches.bitmap_distinct_by_group``). Merge: bitmap OR
    at query time via :func:`bitmap_distinct_counts` — idempotent, so
    the step never reads prior state. State recipe: module docstring.
    Once thousands of tiny batch partitions accumulate, fold them with
    :func:`compact_bitmap_state`; answers are unaffected."""
    from ..operators.sketches import bitmap_distinct_by_group

    return _increment_step(state_path, lambda df: bitmap_distinct_by_group(
        df, group_cols, value_col))


def bitmap_distinct_counts(spark, state_path: str,
                           group_cols: list) -> DataFrame:
    """Query side of :func:`incremental_bitmap_distinct`: OR-merge the
    accumulated bitmap state down to ``group_cols`` (empty for a grand
    total) and return exact distinct counts. Bitmap-table-sized work —
    the raw stream is never rescanned."""
    from ..operators.sketches import bitmap_distinct_rollup

    state = spark.read.parquet(state_path)
    return bitmap_distinct_rollup(state, group_cols)


def incremental_histogram_state(
    state_path: str,
    edges_by_col: dict,
    *,
    drop_nulls: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating a multi-column histogram on disk —
    the streaming baseline for
    :func:`~..operators.drift.drift_from_snapshot`.

    Snapshot: the batch's ``(column, bucket, n)`` rows
    (``operators/drift.histogram_snapshot``). Merge: SUM of ``n`` per
    (column, bucket) — ``drift_from_snapshot(spark.read.parquet(
    state_path), cur, edges)`` re-sums, so any later frame drifts
    against the whole history. State recipe: module docstring."""
    from ..operators.drift import histogram_snapshot

    return _increment_step(state_path, lambda df: histogram_snapshot(
        df, edges_by_col, drop_nulls=drop_nulls))


def compact_histogram_state(spark, state_path: str,
                            out_path: str) -> None:
    """Compact an :func:`incremental_histogram_state` dir to one row per
    (column, bucket) at ``out_path`` — :func:`compact_additive_state`
    with the histogram's keys."""
    compact_additive_state(spark, state_path, out_path,
                           ("column", "bucket"), ("n",))


def incremental_quantile_state(
    state_path: str,
    value_col: str,
    edges: Sequence[float],
    *,
    partition_cols: tuple[str, ...] | list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating a
    :func:`~..operators.sketches.quantile_histogram` cell table on disk
    — the streaming member of the mergeable quantile rollup.

    Snapshot: the batch's ``(*partition_cols, bin, n, lo, hi)`` cells.
    Merge: SUM/MIN/MAX per cell (``quantile_histogram_merge``), read via
    :func:`quantile_state_quantiles` without rescanning the stream.
    State recipe: module docstring."""
    from ..operators.sketches import quantile_histogram

    return _increment_step(state_path, lambda df: quantile_histogram(
        df, value_col, edges, partition_cols=partition_cols))


def quantile_state_quantiles(
    spark,
    state_path: str,
    quantiles: Sequence[float],
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge an :func:`incremental_quantile_state` dir (SUM/MIN/MAX
    over per-batch cells, the associative quantile_histogram_merge) and
    read quantile estimates off the merged cells — identical to a
    direct build over every batch's raw rows, cell for cell."""
    from ..operators.sketches import (histogram_quantiles,
                                      quantile_histogram_merge)

    merged = quantile_histogram_merge(spark.read.parquet(state_path),
                                      group_cols)
    return histogram_quantiles(merged, quantiles, group_cols=group_cols)


def compact_quantile_state(spark, state_path: str, out_path: str,
                           group_cols: Sequence[str] = ()) -> None:
    """Compact an :func:`incremental_quantile_state` dir to one row per
    (group, bin), written as batch partition 0 at ``out_path``. Counts
    ADD: compact at quiescence only (State recipe, step 4)."""
    from ..operators.sketches import quantile_histogram_merge

    _write_increment(quantile_histogram_merge(
        spark.read.parquet(state_path), group_cols), out_path, 0)


def quantile_state_edge_report(
    spark,
    state_path: str,
    edges: Sequence[float],
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Edge-drift report over an :func:`incremental_quantile_state` dir
    (r13 verdict task 7): merged end-bin mass + the exact observed
    lo/hi — how much of the accumulated stream has drifted outside the
    fixed grid, and where a re-edged grid should end. Group-cardinality
    output; reads only the KB-scale cells."""
    from ..operators.sketches import (quantile_histogram_edge_report,
                                      quantile_histogram_merge)

    merged = quantile_histogram_merge(spark.read.parquet(state_path),
                                      group_cols)
    return quantile_histogram_edge_report(merged, edges,
                                          group_cols=group_cols)


def reedge_quantile_state(spark, state_path: str, out_path: str,
                          new_edges: Sequence[float],
                          group_cols: Sequence[str] = ()) -> None:
    """Re-edge an :func:`incremental_quantile_state` dir onto a new
    grid — the compaction that answers a grown end bin
    (:func:`quantile_state_edge_report`): merge, re-bin each cell
    wholly into the new bin containing its exact ``[lo, hi]`` span
    (``sketches.quantile_histogram_rebin`` — RAISES if a new edge cuts
    a cell's occupied interior, where exactness is not preservable),
    and write as batch partition 0 at ``out_path``. Counts ADD, so the
    same caveat as :func:`compact_quantile_state`: re-edge only after
    the stream has stopped writing to ``state_path``, or a straddling
    replayed batch would double-count across the two paths."""
    from ..operators.sketches import (quantile_histogram_merge,
                                      quantile_histogram_rebin)

    merged = quantile_histogram_merge(spark.read.parquet(state_path),
                                      group_cols)
    _write_increment(quantile_histogram_rebin(
        merged, new_edges, group_cols=group_cols), out_path, 0)


def incremental_vocab_state(
    state_path: str,
    text_col: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating a corpus TOKEN-COUNT table on
    disk — the streaming reference side for
    :func:`vocab_divergence_from_state`.

    Snapshot: the batch's ``(tok, c)`` counts
    (``operators/text.token_counts``). Merge: SUM of ``c`` per token.
    The vocabulary grows with distinct types, not rows. State recipe:
    module docstring."""
    from ..operators.text import token_counts

    return _increment_step(state_path,
                           lambda df: token_counts(df, text_col))


def vocab_divergence_from_state(
    spark,
    state_path: str,
    cur: DataFrame,
    text_col: str,
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """:func:`~..operators.text.vocab_divergence` with the BASE side
    read from an :func:`incremental_vocab_state` dir instead of raw
    documents — the drift_from_snapshot pattern for vocabulary: merge
    the per-batch counts (SUM over ``_batch_id``), then run the same
    smoothed-KL/OOV report against ``cur``. Answers equal a batch
    vocab_divergence over the concatenated stream history (pinned by
    test)."""
    from ..operators.text import (token_counts,
                                  vocab_divergence_from_counts)

    base_counts = _sum_state(spark, state_path, ["tok"], ["c"])
    return vocab_divergence_from_counts(
        base_counts.withColumnRenamed("c", "cb"),
        token_counts(cur, text_col, "cc"), alpha=alpha)


def incremental_moments_state(
    state_path: str,
    value_col: str,
    *,
    partition_cols: tuple[str, ...] | list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating streaming mean/variance/min/max
    over unbounded history. Snapshot: one
    :func:`~..operators.sketches.moments_sketch` row per partition
    tuple. Merge: ``moments_merge``, read back via
    :func:`moments_state_stats`. State recipe: module docstring."""
    from ..operators.sketches import moments_sketch

    return _increment_step(state_path, lambda df: moments_sketch(
        df, value_col, partition_cols=partition_cols))


def moments_state_stats(
    spark,
    state_path: str,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge an :func:`incremental_moments_state` dir and derive
    mean/variance — exactly what a batch job over the concatenated
    stream history would compute, without rescanning it."""
    from ..operators.sketches import moments_merge, moments_stats

    return moments_stats(
        moments_merge(spark.read.parquet(state_path), group_cols))


def incremental_survival_state(
    state_path: str,
    duration_col: str,
    event_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating Kaplan-Meier sufficient
    statistics on disk. Snapshot: the batch's ``(group..., t, n_event,
    n_censored)`` counts (:func:`~..operators.drift
    .survival_time_counts`). Merge: SUM per (group, t), read via
    :func:`survival_from_state` — bit-identical to the one-shot over
    the union. Each SUBJECT must arrive in exactly one batch (counts
    are per subject). State recipe: module docstring."""
    from ..operators.drift import survival_time_counts

    return _increment_step(state_path, lambda df: survival_time_counts(
        df, duration_col, event_col, group_cols=group_cols))


def survival_from_state(
    spark,
    state_path: str,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge an :func:`incremental_survival_state` dir (SUM per
    (group, t)) and run the K-M windows — the day-2 curve without
    rescanning any prior batch's subjects."""
    from ..operators.drift import survival_from_time_counts

    gc = list(group_cols)
    return survival_from_time_counts(_sum_state(
        spark, state_path, [*gc, "t"], ["n_event", "n_censored"]),
        group_cols=gc)


def incremental_cusum_state(
    state_path: str,
    bucket_col: str,
    value_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating CUSUM sufficient statistics on
    disk. Snapshot: the batch's ``(group..., _b, _sv, _nv)`` bucket
    sums/counts (:func:`~..operators.drift.cusum_bucket_stats`). Merge:
    SUM per (group, bucket) — a day's rows may split across batches —
    read via :func:`cusum_from_state`. State recipe: module
    docstring."""
    from ..operators.drift import cusum_bucket_stats

    return _increment_step(state_path, lambda df: cusum_bucket_stats(
        df, bucket_col, value_col, group_cols=group_cols))


def cusum_from_state(
    spark,
    state_path: str,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge an :func:`incremental_cusum_state` dir (SUM per (group,
    bucket)) and run the mean-shift scan over the merged bucket means
    — scans state, not history."""
    from ..operators.drift import cusum_from_bucket_stats

    gc = list(group_cols)
    return cusum_from_bucket_stats(_sum_state(
        spark, state_path, [*gc, "_b"], ["_sv", "_nv"]), group_cols=gc)


def incremental_benford_state(
    state_path: str,
    value_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating Benford first-digit counts on
    disk. Snapshot: :func:`~..operators.profiling.benford_digit_counts`.
    Merge: SUM per (group, digit), read via :func:`benford_from_state`
    — bit-identical to the one-shot over the union. State recipe:
    module docstring."""
    from ..operators.profiling import benford_digit_counts

    return _increment_step(state_path, lambda df: benford_digit_counts(
        df, value_col, group_cols=group_cols))


def benford_from_state(
    spark,
    state_path: str,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge an :func:`incremental_benford_state` dir (SUM per (group,
    digit)) and run the chi²/worst-gap fold."""
    from ..operators.profiling import benford_from_counts

    gc = list(group_cols)
    return benford_from_counts(
        _sum_state(spark, state_path, [*gc, "_d"], ["_c"]), group_cols=gc)


def incremental_null_profile_state(
    state_path: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating per-column row/null counts and
    dtype — the day-2 seam for schema/null-rate drift. Snapshot:
    :func:`~..operators.profiling.null_profile_snapshot`. Merge:
    :func:`null_profile_from_state`, so today's
    :func:`~..operators.profiling.schema_drift_from_profiles` check
    scans only today's rows. State recipe: module docstring."""
    from ..operators.profiling import null_profile_snapshot

    return _increment_step(state_path, null_profile_snapshot)


def null_profile_from_state(spark, state_path: str) -> DataFrame:
    """Merge an :func:`incremental_null_profile_state` dir to one row
    per column (SUM counts; dtype is constant per producer version —
    MAX picks it deterministically if a retype lands mid-stream, and
    the drift report against the next snapshot flags the retype)."""
    return _sum_state(spark, state_path, ["column"],
                      ["n_rows", "n_nulls"], ["dtype"])


def incremental_rank_state(
    state_path: str,
    value_col: str,
    side_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating Mann-Whitney sufficient
    statistics on disk. Snapshot: the batch's ``(group..., _v, _t,
    _t1)`` value-bucket counts
    (:func:`~..operators.drift.rank_value_counts`). Merge: SUM per
    (group, value) inside :func:`mann_whitney_from_state` — a value's
    rows may split across batches. State recipe: module docstring.

    Kendall/Spearman/Theil-Sen are NOT additive — their statistics need
    cross-batch pair/rank structure that per-batch buckets cannot carry
    — so they deliberately have no state wrappers (see
    examples/ops_monitoring.py)."""
    from ..operators.drift import rank_value_counts

    return _increment_step(state_path, lambda df: rank_value_counts(
        df, value_col, side_col, group_cols=group_cols))


def mann_whitney_from_state(
    spark,
    state_path: str,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge an :func:`incremental_rank_state` dir (SUM per (group,
    value) — done inside the finisher) and run the average-rank window
    + fold — the day-2 rank test without rescanning prior batches."""
    from ..operators.drift import mann_whitney_from_value_counts

    return mann_whitney_from_value_counts(
        spark.read.parquet(state_path), group_cols=list(group_cols))


def incremental_trend_state(
    state_path: str,
    bucket_col: str,
    flag_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step accumulating Cochran-Armitage sufficient
    statistics on disk. Snapshot: the batch's ``(group..., _w, _n,
    _rf)`` scored-bucket counts
    (:func:`~..operators.drift.trend_bucket_counts`). Merge: SUM per
    bucket inside :func:`cochran_armitage_from_state` — buckets split
    across batches freely. State recipe: module docstring."""
    from ..operators.drift import trend_bucket_counts

    return _increment_step(state_path, lambda df: trend_bucket_counts(
        df, bucket_col, flag_col, group_cols=group_cols))


def cochran_armitage_from_state(
    spark,
    state_path: str,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge an :func:`incremental_trend_state` dir and run the trend
    fold — scans state, not history."""
    from ..operators.drift import cochran_armitage_from_bucket_counts

    return cochran_armitage_from_bucket_counts(
        spark.read.parquet(state_path), group_cols=list(group_cols))


def compact_additive_state(
    spark,
    state_path: str,
    out_path: str,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
    *,
    carry_cols: Sequence[str] = (),
) -> None:
    """Compact ANY additive-count state dir (the histogram/survival/
    cusum/benford/null-profile family — and any future state whose
    merge is SUM per key) to one row per key, written to ``out_path``
    as batch partition 0. ``carry_cols`` are key-constant passengers
    (e.g. the null profile's ``dtype``) taken by MAX. Counts ADD:
    compact at quiescence only (State recipe, step 4). Readers accept
    the compacted dir unchanged (their merge is the same SUM)."""
    _write_increment(_sum_state(spark, state_path, key_cols, sum_cols,
                                carry_cols), out_path, 0)


def compact_bitmap_state(spark, state_path: str, out_path: str,
                         group_cols: list) -> None:
    """Compact an :func:`incremental_bitmap_distinct` state dir — after
    thousands of micro-batches the state holds one small bitmap
    partition per batch; this OR-merges every (group, bucket) down to a
    single row and writes the result to ``out_path`` as batch partition
    ``_batch_id=0``, shrinking state to its merged size while answers
    stay identical.

    Writes to a NEW path rather than rewriting in place (the repo's
    swap-not-overwrite layout rule: deleting partitions under a live
    reader is a race). Swap: point the stream's foreachBatch at
    ``out_path`` after its last pre-compaction batch commits — new
    batch ids land beside partition 0 and the OR-merge keeps absorbing
    both. Because merge is idempotent, a batch that straddles the swap
    double-counts nothing."""
    merged = (spark.read.parquet(state_path)
              .groupBy(*group_cols, "bitmap_bucket")
              .agg(F.bitmap_or_agg(F.col("bitmap")).alias("bitmap")))
    _write_increment(merged, out_path, 0)


def corpus_append_dedup(
    index_path: str,
    id_col: str,
    *,
    fp_col: str = "fingerprint",
    out_path: Optional[str] = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step: admit only rows whose fingerprint has never been
    seen in ANY previous batch, with the dedup state as a parquet
    fingerprint index instead of streaming state-store memory.

    ``streaming_dedup`` (dropDuplicatesWithinWatermark) bounds state by a
    time horizon — right for event streams, wrong for corpus building
    where "duplicate" means *ever seen*. Here the horizon is unbounded
    but the state lives on disk: each micro-batch anti-joins the index
    (operators/dedup.incremental_dedup — co-located at scale when both
    sides bucket by fingerprint) and writes the admitted rows to
    ``out_path`` and their fingerprints to the index. Index growth per
    batch == admitted rows; the corpus is never rescanned.

    Exactly-once across mid-batch failures by the module's State recipe:
    both sinks are batch partitions, and the anti-join excludes index
    entries stamped with the current batch id, so a replay admits the
    same rows and replaces its own partitions. Readers of ``out_path``
    see the extra ``_batch_id`` partition column.
    """
    from ..operators.dedup import incremental_dedup

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = _prior_state(spark, index_path, batch_id)
        if prior is None:  # first batch: no index yet
            prior = spark.createDataFrame([], f"{fp_col} string")
        # both writes below consume admitted; checkpoint it once so they
        # see the same rows, and free it when the step is done
        admitted = incremental_dedup(
            batch_df, prior.select(fp_col), id_col,
            fp_col=fp_col).localCheckpoint(eager=True)
        try:
            if out_path is not None:
                _write_increment(admitted, out_path, batch_id)
            _write_increment(admitted.select(fp_col), index_path, batch_id)
        finally:
            release_checkpoints(admitted, keep=batch_df)

    return step


def fuzzy_match_stream(
    index_path: str,
    probe_id: str,
    probe_key: str,
    *,
    out_path: Optional[str] = None,
    max_distance: int = 2,
    blockers=("prefix", "length"),
    prefix_len: int = 2,
    length_bucket: int = 4,
    ngram_q: int = 3,
    register_unmatched: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step: fuzzy-match each micro-batch of dirty records
    against a standing master list stored as a parquet
    ``linkage.blocking_index`` table at ``index_path`` — streaming
    entity resolution with the linkage state on disk, the
    ``corpus_append_dedup`` recipe applied to approximate matching.

    Per batch: read the index, run ``linkage.probe_blocking_index``
    (the batch side is small by contract and AQE-broadcasts; the index
    corpus is touched only through its persisted key table), and write
    the matched pairs to ``out_path``. With ``register_unmatched=True``
    the batch's unmatched records are keyed with the SAME blocker
    configuration and appended to the index — new entities register
    themselves, so later near-duplicates of them match (bootstrap from
    an empty/missing index is supported: the first batch registers
    everything).

    Exactly-once across mid-batch failures by the module's State
    recipe, as in corpus_append_dedup: the probe excludes the current
    batch's index partition, so the matched/registered sets are
    identical on replay.

    The blocker configuration is baked into the index — every probe
    and registration must use the settings the index was built with
    (same contract as ``probe_blocking_index``)."""
    from ..operators import linkage

    kw = dict(blockers=blockers, prefix_len=prefix_len,
              length_bucket=length_bucket, ngram_q=ngram_q)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        prior = _prior_state(batch_df.sparkSession, index_path, batch_id)
        if prior is None:  # first batch: an empty index
            prior = linkage.blocking_index(
                batch_df.limit(0), probe_id, probe_key, **kw)
        matches = linkage.probe_blocking_index(
            prior, batch_df, probe_id, probe_key,
            max_distance=max_distance, **kw).localCheckpoint(eager=True)
        try:
            if out_path is not None:
                _write_increment(matches, out_path, batch_id)
            if register_unmatched:
                unmatched = batch_df.join(
                    matches.select(probe_id), probe_id, "left_anti")
                _write_increment(linkage.blocking_index(
                    unmatched, probe_id, probe_key, **kw),
                    index_path, batch_id)
        finally:
            release_checkpoints(matches, keep=batch_df)

    return step


def _batch_vectors(batch_df: DataFrame, vec_col: str) -> DataFrame:
    """The batch's vectors that have a squared-L2 distance, as ``__v``
    (similarity's ``_usable`` rule: NULL, empty and non-finite vectors
    join no cluster) — the input of one ``_lloyd_pass_arrow``."""
    from ..operators.similarity import _usable

    return _usable(batch_df, vec_col).select(F.col(vec_col).alias("__v"))


def embedding_drift_monitor(
    codebook: DataFrame,
    baseline_props: dict,
    *,
    vec_col: str = "embedding",
    threshold: float = 0.25,
    out_path: Optional[str] = None,
    on_drift: Optional[Callable[[int, float], None]] = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step: per-micro-batch CLUSTER-histogram PSI of an
    embedding stream against a frozen trained codebook — the
    ``drift_monitor`` recipe lifted from scalar columns to vectors.
    Numeric-column drift can miss a shifting embedding distribution
    whose marginals stay put; the cluster histogram (nearest-centroid
    counts over a lloyd_kmeans codebook) is the standard
    dimension-free summary to watch instead.

    ``codebook`` is the long-form ``(centroid_id, pos, coord)`` frame
    lloyd_kmeans returns (collected ONCE here at wiring time —
    model-scale, k x dim rows); ``baseline_props`` maps centroid_id ->
    expected assignment fraction, from a batch profiling pass (e.g.
    n_assigned/total of the same codebook's training output). Per
    batch: one map-only squared-L2 argmin job (similarity's
    ``_lloyd_pass_arrow``) returns the k per-centroid counts — no
    shuffle, no state, no stream-stream join; PSI folds driver-side over
    the k-row histogram exactly like ``drift_monitor``. A vector that is
    NULL, empty or non-finite is in no cluster and not counted in ``n``.

    Verdict rows ``(_batch_id, n, psi, drifted)`` land at ``out_path``
    as batch partitions (the module's State recipe — a replayed batch
    replaces its own row). ``on_drift(batch_id, psi)`` additionally
    fires above ``threshold``; wire it to a NotificationHub channel.
    Empty batches write nothing (no histogram -> no verdict)."""
    from ..operators.similarity import _lloyd_pass_arrow, _read_codebook

    cids, cents = _read_codebook(codebook)
    if not cids:
        raise ValueError("codebook has no centroids")
    if cids != list(range(len(cids))):
        raise ValueError("codebook centroid_ids must be 0..k-1")
    base = {int(k): float(v) for k, v in baseline_props.items()}

    def step(batch_df: DataFrame, batch_id: int) -> None:
        counts = {cid: n for cid, (n, _) in _lloyd_pass_arrow(
            _batch_vectors(batch_df, vec_col), cents, measure=True).items()}
        total = sum(counts.values())
        if not total:
            return
        psi = _psi(base, {cid: n / total for cid, n in counts.items()})
        if out_path is not None:
            _write_increment(batch_df.sparkSession.createDataFrame(
                [(int(total), float(psi), bool(psi > threshold))],
                "n long, psi double, drifted boolean"), out_path, batch_id)
        if psi > threshold and on_drift is not None:
            on_drift(batch_id, psi)

    return step


def init_codebook_state(codebook: DataFrame, codebook_path: str) -> None:
    """Seed the on-disk codebook state :func:`kmeans_update_stream`
    maintains: takes :func:`~..operators.similarity.lloyd_kmeans`'s
    long-form output and writes ``(centroid_id, pos, coord, n_seen,
    _batch_id=-1)`` — ``n_seen`` starts from the training run's
    ``n_assigned`` when present (so the online updates are weighted as
    a continuation of training), else 0. The seed fills slot 0 of the
    two-slot state (``_slot=0``, ``_batch_id=-1`` as a data column);
    ``codebook_path`` must be a new path."""
    n_seen = (F.col("n_assigned").cast("long")
              if "n_assigned" in codebook.columns
              else F.lit(0).cast("long"))
    _write_increment(codebook.select("centroid_id", "pos", "coord",
                                     n_seen.alias("n_seen")),
                     codebook_path, -1, slot=0)


def kmeans_update_stream(
    codebook_path: str,
    *,
    vec_col: str = "embedding",
    out_path: Optional[str] = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step: maintain a k-means codebook ONLINE — the
    mini-batch k-means recipe (Sculley, WWW'10) with exact
    count-weighted means instead of a learning rate: per micro-batch,
    assign the batch's vectors to the CURRENT codebook (one map-only
    argmin job, similarity's ``_lloyd_pass_arrow``, which returns each
    centroid's count and vector sum — no shuffle) and move
    each touched centroid to the exact cumulative mean of everything
    it has ever absorbed: ``c' = (n_seen·c + Σx_batch)/(n_seen + n)``.
    Untouched centroids keep coordinates and count. This closes the
    clustering lifecycle: lloyd_kmeans trains, init_codebook_state
    seeds the disk state, this step keeps the codebook current as the
    corpus streams in, and ``embedding_drift_monitor`` watches the
    SAME codebook for distribution shift.

    State is the full long-form codebook re-written each batch — k×dim
    rows per version, model-scale, so "rewrite the whole state" is the
    cheap and replay-safe design — in two slots, so it holds at most
    two versions (2·k·dim rows) however long the stream runs: the
    batch reads the latest version, excluding its own batch id (the
    module's State recipe), and overwrites the OTHER slot with its
    result. A failed or replayed batch therefore never touches the
    version it read. A vector that is NULL, empty or
    non-finite moves no centroid; empty batches (no usable vectors)
    write nothing. ``out_path`` optionally records one observability row per
    batch: ``(_batch_id, n, max_shift)`` — the largest centroid L2 move,
    the number to alarm on when the stream drifts faster than the
    codebook can follow.
    """

    from ..operators.similarity import _lloyd_pass_arrow, _read_codebook

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = _prior_state(spark, codebook_path, batch_id)
        if prior is None:
            raise ValueError(
                "kmeans_update_stream: no codebook state at "
                f"{codebook_path!r} — seed it with init_codebook_state "
                "from a lloyd_kmeans run")
        if "_slot" not in prior.columns:
            raise ValueError(
                f"kmeans_update_stream: {codebook_path!r} is not a "
                "two-slot codebook state — seed it with "
                "init_codebook_state at a new path")
        latest, slot = prior.agg(
            F.max(F.struct("_batch_id", "_slot"))).first()[0]
        cids, cents, n_seen = _read_codebook(
            prior.filter(F.col("_batch_id") == latest), "n_seen")
        stats = _lloyd_pass_arrow(_batch_vectors(batch_df, vec_col), cents,
                                  measure=False)
        if not stats:
            return
        out_rows = []
        max_shift = 0.0
        for i, (cid, cvec) in enumerate(zip(cids, cents)):
            seen = int(n_seen[i] or 0)
            if i in stats:
                n, total = stats[i]
                new = (seen * cvec + total) / (seen + n)
                max_shift = max(max_shift, math.sqrt(
                    float(((new - cvec) ** 2).sum())))
                cvec, seen = new, seen + n
            out_rows.extend(
                (cid, pos, float(v), seen) for pos, v in enumerate(cvec))
        _write_increment(spark.createDataFrame(
            out_rows, "centroid_id int, pos int, coord double, n_seen long"),
            codebook_path, batch_id, slot=1 - slot)
        if out_path is not None:
            n_total = sum(n for n, _ in stats.values())
            _write_increment(spark.createDataFrame(
                [(n_total, float(max_shift))], "n long, max_shift double"),
                out_path, batch_id)

    return step


def bloom_membership_stream(
    filter_path: str,
    key_col: str,
    *,
    n_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloomstream",
    out_path: Optional[str] = None,
    seen_col: str = "seen_before",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch step: annotate each micro-batch row with whether
    its key was EVER seen in any previous batch — "have we crawled
    this URL / ingested this doc id before" at a fixed few-MB state
    size — then fold the batch's own keys into the standing filter.
    The probabilistic sibling of :func:`corpus_append_dedup`: that one
    keeps an exact fingerprint index that grows with the corpus; this
    one keeps ``n_bits`` of state FOREVER at the cost of a tunable
    false-positive rate on ``seen_before`` (never false negatives —
    a False is proof the key is new).

    State: a parquet word table under the module's State recipe. Each
    batch writes ONLY its own delta words as its batch partition;
    readers OR-merge the partitions (``groupBy(word).agg(bit_or)``).
    The probe view excludes the current batch's partition (a failed
    attempt's words must not make the batch's own keys look seen), so
    the annotation is deterministic under replay.

    The MERGED filter is fixed-size; the ON-DISK store is one
    ≤ n_bits/32-row partition per batch (KBs each), growing with
    batch count until :func:`compact_bloom_state` folds the deltas
    into one partition — run it at stream QUIESCENCE (between a
    failure and its replay, compaction would fold the failed
    attempt's words into the base the replay probes, making the
    replayed annotation see its own keys).

    Per batch: one OR-merge over a words-scale table, k broadcast
    probe joins (skipped entirely when ``out_path`` is None — the
    step then only maintains the filter), one k×-explode groupBy over
    batch rows. Nothing rescans the corpus.
    """
    from ..operators.sketches import (bloom_filter, bloom_might_contain)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if out_path is not None:  # probe only when someone reads it
            prior = _prior_state(spark, filter_path, batch_id)
            if prior is None:  # first batch: no filter yet
                prior = spark.createDataFrame([], "word long, bits long")
            merged = (prior.groupBy("word")
                      .agg(F.bit_or("bits").alias("bits")))
            annotated = bloom_might_contain(
                merged, batch_df, key_col, n_bits=n_bits, k=k,
                salt=salt, out_col=seen_col)
            try:
                _write_increment(annotated, out_path, batch_id)
            finally:  # the probe checkpoints the merged words
                release_checkpoints(annotated, keep=batch_df)
        _write_increment(bloom_filter(batch_df, key_col, n_bits=n_bits,
                                      k=k, salt=salt),
                         filter_path, batch_id)

    return step


def compact_bloom_state(spark, filter_path: str, *,
                        n_bits: int | None = None) -> int:
    """Fold a :func:`bloom_membership_stream` store's per-batch delta
    partitions into ONE merged partition (``_batch_id = -1``) —
    OR-merging is idempotent, so the compacted store answers every
    probe identically while the on-disk row count drops from
    batches × words to words. Returns the merged word count. Run at
    stream QUIESCENCE only: compacting between a failed batch and its
    replay folds the failed attempt's words into the base the replay
    probes (see the stream step's exactly-once note).

    ``n_bits`` is the REPAIR mode for stores written by pre-sentinel
    builds: pass the stream's configured ``n_bits`` and the compaction
    re-pins the width sentinel at the configured last word so the
    probe's exact shape check accepts the store again. Post-sentinel
    stores need no repair — the OR-merge preserves their sentinel."""
    words = (spark.read.parquet(filter_path)
             .groupBy("word").agg(F.bit_or("bits").alias("bits")))
    if n_bits is not None:
        n_words = (n_bits + 31) // 32
        sentinel = spark.createDataFrame(
            [(int(n_words - 1), 0)], "word long, bits long")
        words = words.unionByName(sentinel)
    merged = (words
              .groupBy("word").agg(F.bit_or("bits").alias("bits"))
              .withColumn("_batch_id", F.lit(-1))
              .localCheckpoint(eager=True))
    try:
        # STATIC overwrite explicitly: under a session-wide dynamic
        # setting, overwrite would replace only the -1 partition and the
        # deltas would never be removed — compaction must truncate
        (merged.write.mode("overwrite").partitionBy("_batch_id")
         .option("partitionOverwriteMode", "static")
         .parquet(filter_path))
        return merged.count()
    finally:
        release_checkpoints(merged)
