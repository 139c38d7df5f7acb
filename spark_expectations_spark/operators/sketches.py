"""Mergeable sketches — the 100 TB pre-aggregation pattern.

Exact ``count(distinct)`` / exact percentiles need a full shuffle of the
raw column every time someone asks. The scalable idiom is to aggregate
ONCE into per-group *mergeable sketches* (Apache DataSketches, built into
Spark SQL), store those few-KB binaries in a rollup table, and answer
every later question — any grouping coarsening, any time range — by
merging sketches instead of re-scanning data. Merge is associative, so
partial aggregation applies and re-rollups touch only sketch rows.

The reference engine's surface stops at ``count(distinct ...)`` /
``percentile_approx`` inside agg_dq expectation strings (reference
docs/configurations/rules.md:41-52); these operators are the scale path
for the same questions.

All functions are stock JVM expressions (`hll_sketch_agg`,
`hll_union_agg`, `kll_sketch_*`, `theta_sketch_agg`) — zero Python on the
data path.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .drift import _edge_bucket


def hll_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    lgk: int = 12,
    sketch_out: str = "hll_sketch",
    estimate_out: Optional[str] = "approx_distinct",
) -> DataFrame:
    """Per-group HLL distinct-count sketch (+ estimate column).

    Keep ``sketch_out`` when persisting a rollup table — it's what makes
    later re-aggregation possible without the raw data.
    """
    out = df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias(sketch_out))
    if estimate_out:
        out = out.withColumn(estimate_out,
                             F.hll_sketch_estimate(sketch_out))
    return out


def hll_rollup(
    sketch_df: DataFrame,
    group_cols: Sequence[str],
    *,
    sketch_col: str = "hll_sketch",
    estimate_out: str = "approx_distinct",
) -> DataFrame:
    """Coarsen a sketch table to fewer grouping columns by UNIONING
    sketches — never re-reads raw data. ``group_cols`` may be empty for a
    grand total."""
    agg = F.hll_union_agg(sketch_col).alias(sketch_col)
    out = (sketch_df.groupBy(*group_cols).agg(agg)
           if group_cols else sketch_df.agg(agg))
    return out.withColumn(estimate_out, F.hll_sketch_estimate(sketch_col))


def kll_quantiles_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles: Sequence[float],
    *,
    k: int = 200,
    sketch_out: str = "kll_sketch",
) -> DataFrame:
    """Per-group KLL quantile sketch + requested quantile estimates.

    Like HLL for distinct counts, KLL sketches merge (``kll_sketch_merge_
    double``) so a persisted sketch table answers percentile questions at
    any coarser grouping without touching raw rows."""
    out = df.groupBy(*group_cols).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"),
                                F.lit(k)).alias(sketch_out))
    for q in quantiles:
        out = out.withColumn(
            f"q{str(q).replace('0.', '').rstrip('0') or '0'}",
            F.kll_sketch_get_quantile_double(sketch_out, F.lit(float(q))))
    return out


def quantile_histogram(
    df: DataFrame,
    value_col: str,
    edges: Sequence[float],
    *,
    partition_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Build the MERGEABLE quantile sketch the KLL path can't give us
    (r12 verdict task 4): a fixed-edge cumulative histogram whose cells
    are EXACT integers — so the sketch is value-oracle-able end to end,
    and per-day state merges with yesterday's by plain aggregation,
    which per-run ``approx_percentile``/KLL estimates cannot do without
    binary sketch blobs. Quantile read-off interpolates inside a bin
    (:func:`histogram_quantiles`), so the error is bounded by bin width
    — pick ``edges`` from domain knowledge or a one-off percentile
    probe, exactly like the drift family's fold buckets.

    Bin ``i`` = number of ``edges`` ≤ value (the drift module's
    ``_edge_bucket`` fold over a literal array, no edge-table join; an
    interpreted higher-order function, so its projection runs outside
    whole-stage codegen) — ``len(edges)+1`` possible bins covering
    (−inf, inf). Each cell
    carries ``(n, lo, hi)``: exact row count plus the exact min/max
    value seen in that bin. All three are mergeable by construction —
    ``n`` by SUM, ``lo`` by MIN, ``hi`` by MAX — so
    :func:`quantile_histogram_merge` composes any date range's sketch
    from per-day cells CELL FOR CELL equal to a direct whole-range
    build (the CMS/HLL rollup philosophy; parity is oracle-gated by
    ``events_quantile_merge_check``). NULL values are skipped.

    ``partition_cols`` builds many sketches in the same single pass —
    the cell table becomes ``(*partition_cols, bin, n, lo, hi)``,
    at most ``len(edges)+1`` rows per partition tuple regardless of
    corpus size. Names must not collide with ``bin``/``n``/``lo``/
    ``hi``.

    Scale shape: ONE map-side-combined groupBy over
    (*partition_cols, bin); no explode (unlike CMS there is one cell
    per row, not depth), no window, KB-scale output.
    """
    if len(edges) < 1:
        raise ValueError("need at least one bin edge")
    es = [float(e) for e in edges]
    if sorted(es) != es or len(set(es)) != len(es):
        raise ValueError("edges must be strictly increasing")
    pc = list(partition_cols)
    if any(c in ("bin", "n", "lo", "hi") for c in pc):
        raise ValueError(
            "partition_cols may not be named bin/n/lo/hi — they share "
            "the cell table with the sketch fields")
    v = F.col(value_col).cast("double")
    return (df.filter(v.isNotNull())
            .groupBy(*pc, _edge_bucket(v, es).alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(v).alias("lo"),
                 F.max(v).alias("hi")))


def quantile_histogram_merge(
    sketch_df: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Coarsen a :func:`quantile_histogram` cell table to fewer
    grouping columns — or to one global sketch — without touching raw
    data: ``n`` sums, ``lo`` mins, ``hi`` maxes. Exact (not
    approximately) equal to building the sketch directly over the
    union of the underlying rows, because each cell's three statistics
    are themselves associative aggregates over disjoint row sets."""
    gc = list(group_cols)
    return (sketch_df.groupBy(*gc, "bin")
            .agg(F.sum("n").alias("n"), F.min("lo").alias("lo"),
                 F.max("hi").alias("hi")))


def histogram_quantiles(
    sketch_df: DataFrame,
    quantiles: Sequence[float],
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Read quantile estimates off a :func:`quantile_histogram` cell
    table (optionally per group): for quantile ``q`` the target mass is
    ``t = q · N``; the answer bin is the first whose cumulative count
    reaches ``t``, and the estimate interpolates linearly between that
    bin's exact ``lo``/``hi`` by the fraction of the bin's mass below
    ``t`` — so ``q=0`` reads the global min, ``q=1`` the global max,
    and every estimate lands within the true bin (error ≤ bin width).
    Deterministic double arithmetic over exact integers — replayable
    in SQL with a cumulative-window CTE.

    Returns ``(*group_cols, q, est)``. Scale shape: one cumulative
    window over the bins-scale cell table partitioned by group, then a
    literal-array explode of the quantile list and a per-(group, q)
    min-bin rank — never corpus rows.
    """
    if not quantiles:
        raise ValueError("need at least one quantile")
    qs = [float(q) for q in quantiles]
    if any(q < 0.0 or q > 1.0 for q in qs):
        raise ValueError("quantiles must be in [0, 1]")
    gc = list(group_cols)
    # mirror quantile_histogram's partition_cols guard: the read-off
    # shares the frame with its own working columns, and a group column
    # named 'q' would otherwise fail with a confusing duplicate-column
    # error deep in the explode (ADVICE r13)
    if any(c in ("q", "est", "bin", "n", "lo", "hi",
                 "_cum", "_tot", "_t", "_rk") for c in gc):
        raise ValueError(
            "group_cols may not be named q/est/bin/n/lo/hi or any of "
            "the read-off's working columns (_cum/_tot/_t/_rk)")
    w = (Window.partitionBy(*gc) if gc else Window.partitionBy()) \
        .orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = (Window.partitionBy(*gc) if gc
          else Window.partitionBy())
    cum = (sketch_df
           .withColumn("_cum", F.sum("n").over(w))
           .withColumn("_tot", F.sum("n").over(wt)))
    qf = F.explode(F.array(*[F.lit(q) for q in qs])).alias("q")
    cand = (cum.select("*", qf)
            .withColumn("_t", F.col("q") * F.col("_tot"))
            .filter((F.col("_cum") >= F.col("_t"))
                    | (F.col("_cum") == F.col("_tot"))))
    # first qualifying bin per (group, q); the _cum==_tot clause keeps
    # the last bin as a fallback so q=1 (t=N, cum==t) always matches
    pick = Window.partitionBy(*gc, "q").orderBy("bin")
    first = (cand.withColumn("_rk", F.row_number().over(pick))
             .filter(F.col("_rk") == 1))
    frac = F.least(F.greatest(
        (F.col("_t") - (F.col("_cum") - F.col("n")))
        / F.col("n").cast("double"), F.lit(0.0)), F.lit(1.0))
    return first.select(
        *gc, "q",
        (F.col("lo") + (F.col("hi") - F.col("lo")) * frac).alias("est"))


def quantile_histogram_edge_report(
    sketch_df: DataFrame,
    edges: Sequence[float],
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Edge-drift report over a :func:`quantile_histogram` cell table:
    how much mass has fallen OUTSIDE the chosen grid. The sketch
    answers every interior quantile within bin width, but values below
    ``edges[0]`` pool in bin 0 and values ``>= edges[-1]`` pool in the
    last bin — if the data drifts past the grid those end bins grow
    and quantile estimates near the tails degrade to the (exact)
    ``lo``/``hi`` interpolation over one wide bin. One row per group:
    ``(n_total, n_below, n_above, below_frac, above_frac, observed_lo,
    observed_hi, edge_lo, edge_hi)`` — ``observed_*`` are the EXACT
    global min/max recovered from the cells, so the report also says
    where a re-edged grid (:func:`quantile_histogram_rebin`) should
    end. Group-cardinality aggregation over the KB-scale cell table —
    no raw data."""
    if len(edges) < 1:
        raise ValueError("need at least one bin edge")
    gc = list(group_cols)
    last_bin = len(edges)
    agg = (sketch_df.groupBy(*gc).agg(
        F.sum("n").alias("n_total"),
        F.sum(F.when(F.col("bin") == 0, F.col("n")).otherwise(0))
        .alias("n_below"),
        F.sum(F.when(F.col("bin") == last_bin, F.col("n")).otherwise(0))
        .alias("n_above"),
        F.min("lo").alias("observed_lo"),
        F.max("hi").alias("observed_hi")))
    return agg.select(
        *gc, "n_total", "n_below", "n_above",
        (F.col("n_below") / F.col("n_total")).alias("below_frac"),
        (F.col("n_above") / F.col("n_total")).alias("above_frac"),
        "observed_lo", "observed_hi",
        F.lit(float(edges[0])).alias("edge_lo"),
        F.lit(float(edges[-1])).alias("edge_hi"))


def quantile_histogram_rebin(
    sketch_df: DataFrame,
    new_edges: Sequence[float],
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Rebuild a :func:`quantile_histogram` cell table on a NEW edge
    grid without raw data — the re-edge answer to a grown end bin
    (:func:`quantile_histogram_edge_report`). A cell moves wholly into
    the new bin that contains its exact ``[lo, hi]`` span; the result
    is then CELL FOR CELL equal to a direct build over the raw rows
    with ``new_edges``, because every row in the cell shares the
    cell's new bin. Exactness is therefore preservable exactly when no
    new edge cuts through a cell's occupied span — new grids made of
    (a subset of) the old edges plus any edges outside each cell's
    observed ``[lo, hi]`` qualify; an edge through a cell's interior
    does not, and this function RAISES (listing the straddling count)
    rather than silently approximating — re-edge at old-edge
    boundaries, or rebuild from raw data for a finer interior grid.

    Input should be a merged (one row per group+bin) table —
    :func:`quantile_histogram_merge` first; the check-and-move is one
    pass over the KB-scale cells."""
    if len(new_edges) < 1:
        raise ValueError("need at least one bin edge")
    es = [float(e) for e in new_edges]
    if sorted(es) != es or len(set(es)) != len(es):
        raise ValueError("edges must be strictly increasing")
    gc = list(group_cols)
    binned = (sketch_df
              .withColumn("_nb_lo", _edge_bucket(F.col("lo"), es))
              .withColumn("_nb_hi", _edge_bucket(F.col("hi"), es)))
    n_straddle = binned.filter(
        F.col("_nb_lo") != F.col("_nb_hi")).count()
    if n_straddle:
        raise ValueError(
            f"{n_straddle} cell(s) straddle a new edge (an edge cuts "
            "through their exact [lo, hi] span) — exact re-binning is "
            "impossible; keep old-edge boundaries or rebuild from raw "
            "data")
    return (binned
            .groupBy(*gc, F.col("_nb_lo").alias("bin"))
            .agg(F.sum("n").alias("n"), F.min("lo").alias("lo"),
                 F.max("hi").alias("hi")))


def moments_sketch(
    df: DataFrame,
    value_col: str,
    *,
    partition_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Additive-moments cell table — the mean/variance member of the
    rollup family: per partition tuple one row ``(n, s1, s2, lo, hi)``
    = count, sum, sum of squares, min, max. Every field is associative
    (SUM/SUM/SUM/MIN/MAX), so :func:`moments_merge` composes any date
    range's statistics from per-day rows without raw data, and
    :func:`moments_stats` derives mean/variance/stddev from the merged
    cells. NULLs are skipped. ONE map-side-combined groupBy; output is
    one row per partition tuple regardless of corpus size."""
    pc = list(partition_cols)
    if any(c in ("n", "s1", "s2", "lo", "hi") for c in pc):
        raise ValueError(
            "partition_cols may not be named n/s1/s2/lo/hi — they "
            "share the cell table with the sketch fields")
    v = F.col(value_col).cast("double")
    return (df.filter(v.isNotNull())
            .groupBy(*pc)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(v).alias("s1"),
                 F.sum(v * v).alias("s2"),
                 F.min(v).alias("lo"),
                 F.max(v).alias("hi")))


def moments_merge(
    sketch_df: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Coarsen a :func:`moments_sketch` cell table to fewer grouping
    columns (or one global row) by SUM/SUM/SUM/MIN/MAX — exactly the
    statistics a direct build over the union of rows would produce, up
    to float-summation order on ``s1``/``s2``."""
    gc = list(group_cols)
    agg = [F.sum("n").alias("n"), F.sum("s1").alias("s1"),
           F.sum("s2").alias("s2"), F.min("lo").alias("lo"),
           F.max("hi").alias("hi")]
    return (sketch_df.groupBy(*gc).agg(*agg) if gc
            else sketch_df.agg(*agg))


def moments_stats(sketch_df: DataFrame) -> DataFrame:
    """Derive ``mean`` and population ``variance`` from moments cells:
    mean = s1/n, var = s2/n − mean² (clamped at 0 for the float-
    cancellation edge). Adds the two columns; callers round for
    cross-engine parity."""
    mean = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0))
    return sketch_df.withColumn("mean", mean).withColumn("variance", var)


def theta_distinct_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    sketch_out: str = "theta_sketch",
    estimate_out: str = "approx_distinct",
) -> DataFrame:
    """Theta-sketch variant of ``hll_by_group`` — theta additionally
    supports set intersection/difference estimates downstream (overlap
    between two corpora, retention between periods)."""
    return (
        df.groupBy(*group_cols)
        .agg(F.theta_sketch_agg(value_col).alias(sketch_out))
        .withColumn(estimate_out, F.theta_sketch_estimate(sketch_out))
    )


def bitmap_distinct_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    bucket_out: str = "bitmap_bucket",
    bitmap_out: str = "bitmap",
) -> DataFrame:
    """EXACT mergeable distinct counting — the precision complement to
    :func:`hll_by_group` when the distinct key is integral (user ids,
    doc ids) and the answer must be exact, not ±2%: per ``(group,
    bucket)``, a 4 KB RoaringBitmap-style bitmap with one bit per
    distinct value (Spark's ``bitmap_construct_agg`` family; each
    bucket spans 32768 consecutive values, so the table size tracks the
    VALUE RANGE per group, not the row count).

    Persist the result as a rollup table: bitmaps OR-merge
    associatively (:func:`bitmap_distinct_rollup`), so any coarser
    grouping — or tomorrow's increment — is a bitmap merge, never a
    re-shuffle of 100 TB of raw rows. All stock JVM aggregate
    expressions, map-side partial, zero Python.

    ``value_col`` must be integral; NULLs are skipped (SQL aggregate
    semantics). For string keys, hash first (``xxhash64`` — that tier
    is then approximate-with-collision-risk like any hashed-key count,
    odds ~n²/2⁶⁴)."""
    return (df.filter(F.col(value_col).isNotNull())
            .groupBy(*group_cols,
                     F.bitmap_bucket_number(F.col(value_col))
                     .alias(bucket_out))
            .agg(F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col(value_col)))
                .alias(bitmap_out)))


def bitmap_distinct_rollup(
    bitmap_df: DataFrame,
    group_cols: Sequence[str],
    *,
    bucket_col: str = "bitmap_bucket",
    bitmap_col: str = "bitmap",
    distinct_out: str = "n_distinct",
) -> DataFrame:
    """Coarsen a :func:`bitmap_distinct_by_group` table to fewer
    grouping columns and return EXACT distinct counts — OR-merge the
    bitmaps per ``(group, bucket)``, popcount each, sum buckets per
    group. ``group_cols`` may be empty for an exact grand total. Never
    re-reads raw data; the shuffle is bitmap-table-sized (bucketed
    value-range rows, not raw rows)."""
    merged = (bitmap_df.groupBy(*group_cols, bucket_col)
              .agg(F.bitmap_or_agg(F.col(bitmap_col)).alias(bitmap_col)))
    counted = merged.select(
        *group_cols, F.bitmap_count(F.col(bitmap_col)).alias("__bc"))
    agg = F.sum("__bc").alias(distinct_out)
    return (counted.groupBy(*group_cols).agg(agg)
            if group_cols else counted.agg(agg))


def heavy_hitters(
    df: DataFrame,
    col: str,
    *,
    min_share: float = 0.01,
) -> DataFrame:
    """Exact heavy hitters via the two-phase sketch-then-confirm pattern.

    Phase 1: ``df.stat.freqItems`` (Spark's JVM-side Karp/Misra-Gries
    family) returns a candidate set of at most ~1/min_share items in ONE
    pass with NO shuffle of raw rows — guaranteed a superset of every
    value with share > min_share. Phase 2 confirms with exact counts
    over only the candidate-filtered rows (shuffle ∝ candidate
    occurrences, not distinct values) against a 1-row total broadcast.
    The output is therefore EXACT — the sketch only prunes — which is
    what makes it oracle-checkable; share_ppm is computed in integer
    half-up arithmetic to dodge cross-engine double-rounding ties.

    Returns (col, cnt, share_ppm) for values with share STRICTLY above
    min_share — the sketch's superset guarantee only covers
    share > support, so the confirm filter is strict to stay exact at
    the boundary.
    """
    cand = df.stat.freqItems([col], min_share).first()[0]
    if not cand:
        from pyspark.sql.types import LongType, StructField, StructType

        # derive the value column's type from the input so the empty
        # frame unions cleanly with the non-empty path for any col type
        schema = StructType([
            StructField(col, df.schema[col].dataType),
            StructField("cnt", LongType()),
            StructField("share_ppm", LongType()),
        ])
        return df.sparkSession.createDataFrame([], schema)
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    counts = (
        df.filter(F.col(col).isin([v for v in cand]))
        .groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
    )
    share_ppm = F.expr("(cnt * 2000000 + _total) div (_total * 2)")
    return (
        counts.withColumn("share_ppm", share_ppm)
        .filter(F.col("cnt") * F.lit(1.0) / F.col("_total") > min_share)
        .select(col, "cnt", "share_ppm")
    )


def join_cardinality_estimate(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
) -> DataFrame:
    """Pre-join cardinality estimation from theta sketches — answer
    "how big is this join going to be" BEFORE shuffling 100 TB: each
    side contributes one (count, theta-sketch) aggregate (map-side
    combined, KB-sized result), and the sketches' set INTERSECTION
    (theta's extra trick over HLL) estimates the distinct keys the
    sides share.

    Returns ONE row: per-side row/distinct counts,
    ``common_keys_est`` (distinct keys in both), ``semi_selectivity``
    (fraction of left's distinct keys that survive a semi join), and
    ``join_rows_est`` — common keys x the sides' average
    multiplicities. The join-size estimate assumes multiplicity is
    independent of key membership (the textbook uniform assumption;
    a skewed hot key can exceed it — pair with
    :func:`~.skew.key_skew_stats` when that matters). Distinct
    estimates carry theta's ~2% relative error at default precision.
    """
    # multiplicity uses NON-NULL key counts (count(key), not count(*)):
    # NULL keys never join, so counting them would inflate the average
    # multiplicity by the NULL fraction (review fix — a 50%-NULL FK
    # column doubled the estimate)
    la = left.agg(
        F.count(F.lit(1)).alias("left_rows"),
        F.count(F.col(left_key)).alias("_lnn"),
        F.theta_sketch_agg(left_key).alias("_ls"))
    ra = right.agg(
        F.count(F.lit(1)).alias("right_rows"),
        F.count(F.col(right_key)).alias("_rnn"),
        F.theta_sketch_agg(right_key).alias("_rs"))
    j = la.crossJoin(F.broadcast(ra))
    ld = F.theta_sketch_estimate(F.col("_ls"))
    rd = F.theta_sketch_estimate(F.col("_rs"))
    common = F.theta_sketch_estimate(
        F.theta_intersection(F.col("_ls"), F.col("_rs")))
    # an empty/all-NULL side provably yields zero join rows — report
    # 0.0, not NULL (numeric consumers gate on these)
    return j.select(
        "left_rows", "right_rows",
        ld.alias("left_distinct_est"),
        rd.alias("right_distinct_est"),
        common.alias("common_keys_est"),
        F.when(ld > 0, common / ld).otherwise(F.lit(0.0))
        .alias("semi_selectivity"),
        F.when((ld > 0) & (rd > 0),
               common * (F.col("_lnn") / ld) * (F.col("_rnn") / rd))
        .otherwise(F.lit(0.0)).alias("join_rows_est"))


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    *,
    width: int = 1024,
    depth: int = 3,
    salt: str = "cms",
    partition_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Build a Count-Min sketch (Cormode & Muthukrishnan 2005) over a
    key column — the MERGEABLE approximate frequency table completing
    the sketch family: HLL answers "how many distinct", KLL "what
    quantile", theta "how big an intersection"; CMS answers "how often
    does ANY given key occur" in ``depth × width`` cells of fixed
    memory, with the one-sided guarantee estimate >= true count
    (overestimate bounded by n/width per row with probability
    1 − 2^−depth). Persist the cell table beside daily partitions and
    SUM cells to merge — the HLL-rollup philosophy for frequencies.

    Hashing is the module-standard deterministic md5 coin (row ``r``
    buckets by ``md5('{salt}{r}|' + key)``'s leading 8 hex chars mod
    width), so two engines — or two days' pipelines — build
    bit-identical sketches. Returns a dense-only ``(r, bucket, n)``
    frame (absent cells are implicitly 0).

    ``partition_cols`` builds MANY sketches in the same single pass —
    one per distinct partition-column tuple (e.g. per day) — by
    carrying those columns through the groupBy: the cell table becomes
    ``(*partition_cols, r, bucket, n)``. Because every partition's
    sketch shares the salt/width/depth, merging is literally
    ``groupBy(r, bucket).sum(n)`` and equals the whole-corpus sketch
    CELL FOR CELL — the HLL-rollup philosophy made exact (summing two
    CMS arrays is how the data structure is defined to compose).
    Partition column names must not collide with ``r``/``bucket``/
    ``n``.

    Scale shape: ONE scan exploded ``depth``× by a literal array, one
    map-side-combined groupBy over (*partition_cols, r, bucket) —
    output is depth×width rows per partition tuple regardless of
    corpus size. NULL keys are skipped (count them upstream if they
    matter).
    """
    if width < 2 or depth < 1:
        raise ValueError("need width >= 2 and depth >= 1")
    pc = list(partition_cols)
    if any(c in ("r", "bucket", "n") for c in pc):
        raise ValueError(
            "partition_cols may not be named r/bucket/n — they share "
            "the cell table with the sketch coordinates")
    k = F.col(key_col).cast("string")
    cells = F.array(*[
        F.struct(
            F.lit(r).alias("r"),
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{salt}{r}|"), k)), 1, 8),
                16, 10).cast("long") % width).alias("bucket"))
        for r in range(depth)])
    nn = df.filter(k.isNotNull())
    built = (nn.select(*pc, F.explode(cells).alias("c"))
             .groupBy(*pc, F.col("c.r").alias("r"),
                      F.col("c.bucket").alias("bucket"))
             .agg(F.count(F.lit(1)).alias("n")))
    # WIDTH-PINNING SENTINELS: one zero-count cell at (r, width−1) per
    # row r, so ``max(bucket) == width − 1`` holds by construction and
    # a lookup with a LARGER width is detectable — without them a
    # smaller-width build passes the lookup's shape guard and
    # under-reads (the one-sided >= guarantee breaks silently).
    # Sum-merges keep them; a zero cell never changes an estimate.
    # derive from the BUILT cell table (KB-scale), not the input — a
    # second corpus scan per sketch otherwise
    sent_src = (built.select(*pc).distinct() if pc
                else built.limit(1).select())
    sentinel = (sent_src
                .select(*pc, F.explode(F.array(
                    *[F.lit(r) for r in range(depth)])).alias("r"))
                .select(*pc, "r",
                        F.lit(width - 1).cast("long").alias("bucket"),
                        F.lit(0).cast("long").alias("n")))
    return (built.unionByName(sentinel)
            .groupBy(*pc, "r", "bucket")
            .agg(F.sum("n").alias("n")))


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    width: int = 1024,
    depth: int = 3,
    salt: str = "cms",
) -> DataFrame:
    """Estimate each key's frequency from a :func:`count_min_sketch`
    cell table: hash the key with the SAME (width, depth, salt)
    configuration, read its ``depth`` cells, and take the minimum
    (missing cells are 0 — a key hashing to an untouched cell has a
    provably-zero estimate). Adds ``cms_estimate`` to ``keys``.

    A (width, depth) MISMATCH against the build configuration is
    CAUGHT at execution time in BOTH directions (a mismatch can even
    under-read, breaking the one-sided >= guarantee):
    :func:`count_min_sketch` pins its width with zero-count sentinel
    cells at ``(r, width−1)``, so a broadcast one-row stats frame can
    check ``max(bucket) == width−1`` exactly (larger AND smaller
    builds both violate it), plus ``max(r) == depth−1`` and
    ``count(distinct r) == depth``; any violation raises with the
    observed vs expected shape. A
    SALT mismatch is information-theoretically uncatchable from the
    cells alone — pin the salt where the sketch is persisted. The
    guard is lazy (pure plan, no eager action) and costs one scalar
    comparison per output row plus one broadcast of a 1-row frame.

    Scale shape: the cell table is depth×width rows — broadcast by
    construction — so the lookup is ``depth`` broadcast equi-joins +
    a key-kept ``least`` projection; the keys frame streams map-only.
    """
    if width < 2 or depth < 1:
        raise ValueError("need width >= 2 and depth >= 1")
    k = F.col(key_col).cast("string")
    # the cell table feeds depth broadcast joins + the stats frame —
    # cut its lineage once (the r11 multi-consumer persist rule)
    sketch = sketch.localCheckpoint(eager=False)
    stats = sketch.agg(F.count(F.lit(1)).alias("__cells"),
                       F.max("r").alias("__maxr"),
                       F.countDistinct("r").alias("__nr"),
                       F.max("bucket").alias("__maxb"))
    out = keys.crossJoin(F.broadcast(stats))
    mins = []
    for r in range(depth):
        bucket = (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{salt}{r}|"), k)), 1, 8),
            16, 10).cast("long") % width)
        cell = (sketch.filter(F.col("r") == r)
                .select(F.col("bucket").alias(f"__b{r}"),
                        F.col("n").alias(f"__n{r}")))
        out = out.join(F.broadcast(cell),
                       bucket == F.col(f"__b{r}"), "left")
        mins.append(F.coalesce(F.col(f"__n{r}"), F.lit(0)))
    est = mins[0]
    for m in mins[1:]:
        est = F.least(est, m)
    # an empty cell table (empty build corpus) is legitimately all-zero;
    # the exact ==width−1 check against the build's sentinels catches a
    # smaller-width build too (which would otherwise under-read)
    cfg_ok = (F.col("__cells") == 0) | (
        (F.col("__maxb") == width - 1)
        & (F.col("__maxr") == depth - 1)
        & (F.col("__nr") == depth))
    est = F.when(cfg_ok, est).otherwise(F.raise_error(F.concat(
        F.lit(f"cms_lookup: sketch shape does not match width={width} "
              f"depth={depth} (observed max bucket "),
        F.col("__maxb").cast("string"), F.lit(", rows r=0.."),
        F.col("__maxr").cast("string"), F.lit(" with "),
        F.col("__nr").cast("string"),
        F.lit(" distinct r) — rebuild or fix the parameters"))))
    return out.withColumn("cms_estimate", est).drop(
        "__cells", "__maxr", "__nr", "__maxb",
        *[c for r in range(depth) for c in (f"__b{r}", f"__n{r}")])


def bloom_filter(
    df: DataFrame,
    key_col: str,
    *,
    n_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
    partition_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Build a Bloom filter (Bloom 1970) over a key column — the
    MERGEABLE approximate membership sketch completing the family: HLL
    answers "how many distinct", KLL "what quantile", CMS "how often",
    a Bloom filter answers "was this key EVER present" with no false
    negatives and a tunable false-positive rate (~``fill^k`` where
    fill is the fraction of set bits). The classic 100 TB use: build a
    few-MB filter over one table's join keys, broadcast it, and
    pre-filter the other side before the real join — rows whose key
    the filter rejects PROVABLY have no match and skip the shuffle.

    Representation: 32-bit words as ``(word, bits)`` rows — each key
    sets ``k`` bit positions ``md5('{salt}{i}|' + key)`` (leading 8
    hex chars, mod ``n_bits``), packed by ``word = pos div 32``,
    ``bits = bit-OR of 1 << (pos mod 32)``. 32-bit words keep every
    value positive in a signed 64-bit column, so the same arithmetic
    is exact in any SQL engine (no sign-bit two's-complement traps).
    Merging two filters with the same (n_bits, k, salt) is literally
    ``groupBy(word).agg(bit_or(bits))`` — the structure is defined to
    compose by OR. Absent words are implicitly 0.

    ``partition_cols`` builds MANY filters in one pass (one per
    distinct tuple, e.g. per day) by carrying those columns through
    the groupBy, exactly like :func:`count_min_sketch`.

    Scale shape: ONE scan exploded ``k``× by a literal array, one
    map-side-combined groupBy — output is at most ``n_bits/32`` rows
    per partition tuple regardless of corpus size. NULL keys are
    skipped. Deterministic md5 hashing: two engines — or two days'
    pipelines — build bit-identical filters.
    """
    if n_bits < 32 or k < 1:
        raise ValueError("need n_bits >= 32 and k >= 1")
    pc = list(partition_cols)
    if any(c in ("word", "bits") for c in pc):
        raise ValueError(
            "partition_cols may not be named word/bits — they share "
            "the word table with the filter payload")
    key = F.col(key_col).cast("string")
    n_words = (n_bits + 31) // 32
    positions = F.array(*[
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{salt}{i}|"), key)), 1, 8),
            16, 10).cast("long") % n_bits)
        for i in range(k)])
    pos = F.explode(positions).alias("__pos")
    nn = df.filter(key.isNotNull())
    built = (nn.select(*pc, pos)
             .groupBy(*pc, F.floor(F.col("__pos") / 32).alias("word"))
             # 2^bit via pow: bit <= 31 so the double is exact; shiftleft
             # would be idiomatic but its shift amount must be a literal
             .agg(F.bit_or(
                 F.pow(F.lit(2.0), (F.col("__pos") % 32).cast("int"))
                 .cast("long")).alias("bits")))
    # WIDTH-PINNING SENTINEL: materialize the LAST word (bits = 0) for
    # every filter built, so ``max(word) == n_words − 1`` holds by
    # construction and a probe with a LARGER n_bits is detectable —
    # without it a smaller build passes the probe's shape guard and
    # produces false negatives, breaking the proof-of-absence
    # direction. OR-merges keep the sentinel; it never flips a probe.
    # derive the sentinel rows from the BUILT table (word-table scale)
    # — deriving from the input would re-scan the whole build source
    sent_src = (built.select(*pc).distinct() if pc
                else built.limit(1).select())
    sentinel = sent_src.select(
        *pc, F.lit(n_words - 1).cast("long").alias("word"),
        F.lit(0).cast("long").alias("bits"))
    return (built.unionByName(sentinel)
            .groupBy(*pc, "word")
            .agg(F.bit_or("bits").alias("bits")))


def bloom_might_contain(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    n_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
    out_col: str = "might_contain",
) -> DataFrame:
    """Probe a :func:`bloom_filter` word table: hash each key with the
    SAME (n_bits, k, salt), read its ``k`` words, and report whether
    ALL ``k`` bits are set. True may be a false positive (rate
    ~``fill^k``); False is PROOF of absence — the property that makes
    Bloom pre-filtering before a join sound. Adds ``out_col``
    (boolean) to ``keys``.

    An ``n_bits`` mismatch against the build is caught lazily in BOTH
    directions: :func:`bloom_filter` pins its width by materializing
    the last word (bits 0), so a broadcast 1-row stats frame can check
    ``max(word) == ceil(n_bits/32) − 1`` exactly — a larger build
    overshoots it, a smaller build undershoots it (the dangerous
    direction: an unguarded smaller build returns FALSE NEGATIVES,
    violating proof-of-absence). A k or salt mismatch is uncatchable
    from the words alone — pin them where the filter is persisted (a
    too-large k or wrong salt can only FLIP true→false spuriously,
    never break the no-false-negative direction of a matching probe).
    MIGRATION: word tables persisted by pre-sentinel builds fail this
    exact check — run :func:`~..streaming.compact_bloom_state` on a
    stream store (it re-adds the sentinel) or rebuild one-off tables.

    Scale shape: the word table is at most ``n_bits/32`` rows —
    broadcast it for probe-side map-only lookups when n_bits is sized
    for broadcast (2^20 bits = 32K rows ≈ 512 KB); at larger sizes the
    ``k`` equi-joins shuffle on ``word``, still key-bounded. The probe
    frame streams through; nothing is keys × words.
    """
    if n_bits < 32 or k < 1:
        raise ValueError("need n_bits >= 32 and k >= 1")
    n_words = (n_bits + 31) // 32
    key = F.col(key_col).cast("string")
    # the word table feeds k broadcast joins + the stats frame — cut
    # its lineage once or an expensive build (a test-set shingle
    # explode, say) re-executes per consumer (the r11 persist rule)
    bloom = bloom.localCheckpoint(eager=False)
    stats = bloom.agg(F.count(F.lit(1)).alias("__words"),
                      F.max("word").alias("__maxw"))
    out = keys.crossJoin(F.broadcast(stats))
    checks = []
    for i in range(k):
        p = (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{salt}{i}|"), key)), 1, 8),
            16, 10).cast("long") % n_bits)
        w = bloom.select(F.col("word").alias(f"__w{i}"),
                         F.col("bits").alias(f"__v{i}"))
        out = out.join(F.broadcast(w),
                       F.floor(p / 32) == F.col(f"__w{i}"), "left")
        bit_val = F.pow(F.lit(2.0), (p % 32).cast("int")).cast("long")
        checks.append(
            F.coalesce(F.col(f"__v{i}"), F.lit(0))
            .bitwiseAND(bit_val) != 0)
    hit = checks[0]
    for c in checks[1:]:
        hit = hit & c
    # exact width check against the build's sentinel: a LARGER build
    # overshoots n_words−1, a SMALLER one undershoots it (and would
    # otherwise silently produce false negatives)
    cfg_ok = (F.col("__words") == 0) | (F.col("__maxw") == n_words - 1)
    hit = F.when(cfg_ok, hit).otherwise(F.raise_error(F.concat(
        F.lit(f"bloom_might_contain: word table does not match "
              f"n_bits={n_bits} (expected max word {n_words - 1}, "
              f"observed "),
        F.col("__maxw").cast("string"),
        F.lit(") — rebuild or fix the parameters"))))
    return out.withColumn(out_col, hit).drop(
        "__words", "__maxw",
        *[c for i in range(k) for c in (f"__w{i}", f"__v{i}")])


def bloom_fill_report(
    bloom: DataFrame,
    *,
    n_bits: int,
    k: int,
) -> DataFrame:
    """One-row quality report for a :func:`bloom_filter`: set-bit
    count, fill ratio, and the implied false-positive rate estimate
    ``fill^k`` — the number to alarm on before trusting a filter as a
    join pre-filter (fill > ~0.5 means the filter is undersized for
    its corpus and the FPR is degrading exponentially fast). One agg
    over the word table (``bit_count`` is a JVM expression); never
    touches raw data.
    """
    if n_bits < 32 or k < 1:
        raise ValueError("need n_bits >= 32 and k >= 1")
    return bloom.agg(
        F.coalesce(F.sum(F.bit_count("bits")), F.lit(0))
        .alias("set_bits"),
        (F.coalesce(F.sum(F.bit_count("bits")), F.lit(0))
         / F.lit(float(n_bits))).alias("fill_ratio"),
        F.pow(F.coalesce(F.sum(F.bit_count("bits")), F.lit(0))
              / F.lit(float(n_bits)), F.lit(float(k)))
        .alias("fpr_estimate"))


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    how: str = "inner",
    n_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloomjoin",
) -> DataFrame:
    """The Bloom pre-filter join pattern end-to-end: build a filter
    over ``small[on]``, drop every ``big`` row whose key PROVABLY has
    no match (a False probe is proof of absence), then run the real
    join on the survivors. Result is IDENTICAL to
    ``big.join(small, on, how)`` — false positives pass the filter and
    the join itself removes them — for ``how`` in ``inner`` /
    ``left_semi`` / ``left_anti`` (for anti, provably-unmatched rows
    short-circuit PAST the join). Outer joins must keep unmatched
    rows, so pre-filtering would be wrong; they're rejected.

    When it pays: ``small`` is too big to broadcast raw but its KEY
    SET fits a few MB of bits, and most ``big`` keys DON'T match — the
    filter then deletes most of the join's shuffle I/O for the cost of
    one pass over ``small`` and k broadcast lookups per ``big`` row.
    Check :func:`bloom_fill_report` first: fill > ~0.5 means few rows
    get dropped and the pre-filter is overhead.
    """
    if how not in ("inner", "left_semi", "left_anti"):
        raise ValueError(
            "bloom_prefilter_join supports inner/left_semi/left_anti "
            "(outer joins must keep unmatched rows)")
    bloom = bloom_filter(small, on, n_bits=n_bits, k=k, salt=salt)
    probed = bloom_might_contain(
        bloom, big, on, n_bits=n_bits, k=k, salt=salt,
        out_col="__bloom_hit")
    if how == "left_anti":
        certain_miss = (probed.filter(~F.col("__bloom_hit"))
                        .drop("__bloom_hit"))
        maybe = probed.filter(F.col("__bloom_hit")).drop("__bloom_hit")
        return certain_miss.unionByName(
            maybe.join(small.select(on), on, "left_anti"))
    survivors = probed.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    if how == "left_semi":
        return survivors.join(small.select(on), on, "left_semi")
    return survivors.join(small, on, "inner")
