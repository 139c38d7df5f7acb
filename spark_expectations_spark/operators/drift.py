"""Distribution-drift detection between two snapshots of a column.

Agg rules assert point statistics (mean, counts); drift detection
catches the failures those miss — the mean holds while the shape moves.
``psi`` computes the Population Stability Index over a fixed-width
histogram:

    PSI = Σ_buckets (p_i − q_i) · ln(p_i / q_i)

with the standard reading: < 0.1 stable, 0.1–0.25 drifting, > 0.25
shifted. The reference engine has no drift operator (its agg_dq stops at
scalar assertions); this pairs with ``snapshot_diff`` (row-level) as the
distribution-level reconciliation.

Scale shape: each side is ONE partial-aggregated histogram pass
(width_bucket folds into the scan projection — same plan as the
`lineitem_price_histogram` catalog query), and the PSI combine runs on
bucket-count rows (≤ bins + 2 per side). Nothing data-scale crosses the
driver; the two scans don't shuffle row data at all, only bucket counts.
Fixed explicit bounds (not per-run quantiles) keep PSI comparable across
runs and engines — pick them once from a profiling pass.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Laplace-style floor for empty buckets — PSI's ln(p/q) is undefined at
#: zero; the standard practice is clamping proportions to a small epsilon.
_EPS = 1e-6


def _edge_bucket(value: Column, edges) -> Column:
    """Bucket index of ``value`` over sorted ``edges``: the number of
    edges ≤ value, so ``len(edges)+1`` buckets cover (−inf, inf), and a
    NULL value lands in bucket 0 (``NULL >= e`` folds to 0). A fold
    over a small literal array, with no join against an edge table. It
    is an interpreted higher-order function, so the projection holding
    it runs outside whole-stage codegen; the scan under it stays
    compiled. The one bucket rule of the drift family and of
    :func:`~.sketches.quantile_histogram`."""
    arr = F.array(*[F.lit(float(e)) for e in edges])
    return F.aggregate(
        arr, F.lit(0),
        lambda acc, e: acc + F.when(value >= e, 1).otherwise(0))


def _psi_sum(p: Column, q: Column) -> Column:
    """The PSI aggregate ``Σ (p − q)·ln(p/q)`` over aligned proportions,
    each side NULL → 0 and then floored at ``_EPS``: a bucket present
    on one side only is penalized, not ignored."""
    pe = F.greatest(F.coalesce(p, F.lit(0.0)), F.lit(_EPS))
    qe = F.greatest(F.coalesce(q, F.lit(0.0)), F.lit(_EPS))
    return F.sum((pe - qe) * F.log(pe / qe))


def bucket_proportions(
    df: DataFrame,
    col: str,
    *,
    lo: float,
    hi: float,
    bins: int,
    out: str = "prop",
) -> DataFrame:
    """(bucket, proportion) via width_bucket: bucket 0 = below ``lo``,
    ``bins``+1 = at/above ``hi`` — out-of-range mass is counted, not
    dropped, so range drift itself is visible."""
    b = F.width_bucket(F.col(col), F.lit(float(lo)), F.lit(float(hi)),
                       F.lit(int(bins)))
    counts = df.groupBy(b.alias("bucket")).agg(F.count(F.lit(1)).alias("_n"))
    total = counts.agg(F.sum("_n").alias("_t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select("bucket", (F.col("_n") / F.col("_t")).alias(out))
    )


def psi(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """One-row frame: (psi, n_buckets_compared). Full-outer join on
    bucket id so mass appearing in a bucket the other side lacks is
    penalized (clamped to epsilon), not ignored. Raises when either
    side has no rows, both included (:func:`_aligned_psi`)."""
    p = bucket_proportions(baseline, col, lo=lo, hi=hi, bins=bins, out="p")
    q = bucket_proportions(current, col, lo=lo, hi=hi, bins=bins, out="q")
    return _aligned_psi(p, q, "bucket", "n_buckets_compared", "psi")


def _aligned_psi(p: DataFrame, q: DataFrame, key: str, n_out: str,
                 who: str) -> DataFrame:
    """``(psi, n_out)`` over the full-outer alignment of two
    ``(key, p)`` / ``(key, q)`` proportion frames, raising when either
    side has no rows — the single-column empty-side rule of
    :func:`_one_column`: there the ε clamp would turn the missing side
    into a finite PSI that only the clamp produces."""
    agg = p.join(q, key, "full_outer").agg(
        _psi_sum(F.col("p"), F.col("q")).alias("psi"),
        F.count(F.lit(1)).alias(n_out),
        F.count("p").alias("_np"), F.count("q").alias("_nq"))
    return agg.select(
        F.when((F.col("_np") == 0) | (F.col("_nq") == 0),
               _empty_side_error("psi", who))
        .otherwise(F.col("psi")).alias("psi"), n_out)


def category_proportions(
    df: DataFrame,
    col: str,
    *,
    top_n: int = 100,
    out: str = "prop",
) -> DataFrame:
    """(category, proportion) for the ``top_n`` most frequent values;
    everything else collapses into '__other__' so two snapshots always
    compare over a bounded, aligned category set. NULL is its own
    category ('__null__') — null-rate drift is real drift.

    Scale shape: the top-N cut is ``orderBy().limit()`` —
    TakeOrderedAndProject, a per-partition partial top-N merged on the
    driver, NOT a global single-partition window sort (row_number with
    no partitionBy funnels every distinct category through one task; for
    an id/URL-cardinality column that's the whole corpus in one sort).
    The winners (≤ top_n rows, bounded by contract) broadcast back onto
    the counts to fold the tail into '__other__'. Counts are persisted
    so the source is scanned once for both the cut and the fold."""
    bucketed = _category_counts(df, col, top_n)
    total = bucketed.agg(F.sum("_n").alias("_t"))
    return (
        bucketed.crossJoin(F.broadcast(total))
        .select("category", (F.col("_n") / F.col("_t")).alias(out))
    )


def _category_counts(df: DataFrame, col: str, top_n: int) -> DataFrame:
    """(category, _n) counts with the top-N cut + '__other__' tail fold —
    shared by :func:`category_proportions` and :func:`chi2_categorical`
    (see category_proportions for the plan-shape rationale)."""
    from pyspark.storagelevel import StorageLevel

    norm = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))
    counts = df.groupBy(norm.alias("category")).agg(
        F.count(F.lit(1)).alias("_n")).persist(StorageLevel.MEMORY_AND_DISK)
    top = (counts.orderBy(F.col("_n").desc(), F.col("category"))
           .limit(int(top_n)))
    marks = top.select("category", F.lit(True).alias("_keep"))
    return (
        counts.join(F.broadcast(marks), "category", "left")
        .select(
            F.when(F.col("_keep"), F.col("category"))
            .otherwise(F.lit("__other__")).alias("category"),
            "_n")
        .groupBy("category").agg(F.sum("_n").alias("_n"))
    )


def categorical_psi(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    *,
    top_n: int = 100,
) -> DataFrame:
    """PSI over category frequencies — same formula/thresholds as the
    numeric ``psi``, same full-outer alignment so categories present on
    one side only are penalized via the epsilon clamp.

    Scale note: the top-N cut is TakeOrderedAndProject over the
    distinct-category counts (per-partition partial top-N, no global
    sort), so high-cardinality columns are safe; only ``top_n`` + 2
    category rows ever converge anywhere. Raises when either side has
    no rows, both included."""
    p = category_proportions(baseline, col, top_n=top_n, out="p")
    q = category_proportions(current, col, top_n=top_n, out="q")
    return _aligned_psi(p, q, "category", "n_categories_compared",
                        "categorical_psi")


def chi2_categorical(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    *,
    top_n: int = 100,
) -> DataFrame:
    """Two-sample chi-square homogeneity statistic over aligned category
    counts — the significance-test companion to :func:`categorical_psi`
    (PSI is a magnitude heuristic with rule-of-thumb thresholds; chi²
    against a χ²(dof) table answers "is this shift explainable by
    sampling noise at my row counts"). Returns ONE row:
    (chi2, dof, n_baseline, n_current, n_categories) with
    dof = categories − 1.

    Same scale shape as categorical_psi, with one critical difference:
    the top-N cut is taken on the COMBINED (baseline + current) counts
    and the same winner set folds BOTH sides' tails. Per-side cuts
    (what the PSI heuristic tolerates via its epsilon clamp) corrupt a
    significance test: a category ranked N on one side and N+1 on the
    other would appear under its own name in one column and inside
    '__other__' in the other — a phantom shift chi² would flag as
    drift on identically-distributed samples. Zero-count expected
    cells contribute 0 (both observed are then 0 too).
    """
    norm = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))

    def raw(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy(norm.alias("category")).agg(
            F.count(F.lit(1)).alias(out))

    both = (raw(baseline, "nb").join(raw(current, "nc"), "category",
                                     "full_outer")
            .select("category",
                    F.coalesce("nb", F.lit(0)).alias("nb"),
                    F.coalesce("nc", F.lit(0)).alias("nc"))
            .persist())
    top = (both.orderBy((F.col("nb") + F.col("nc")).desc(), "category")
           .limit(int(top_n))
           .select("category", F.lit(True).alias("_keep")))
    j = (both.join(F.broadcast(top), "category", "left")
         .select(F.when(F.col("_keep"), F.col("category"))
                 .otherwise(F.lit("__other__")).alias("category"),
                 "nb", "nc")
         .groupBy("category")
         .agg(F.sum("nb").alias("nb"), F.sum("nc").alias("nc")))
    tots = j.agg(F.sum("nb").alias("tb"), F.sum("nc").alias("tc"),
                 F.count(F.lit(1)).alias("k"))
    e_b = (F.col("nb") + F.col("nc")) * F.col("tb") / (F.col("tb") + F.col("tc"))
    e_c = (F.col("nb") + F.col("nc")) * F.col("tc") / (F.col("tb") + F.col("tc"))
    term = (
        F.when(e_b > 0, F.pow(F.col("nb") - e_b, 2) / e_b).otherwise(0.0)
        + F.when(e_c > 0, F.pow(F.col("nc") - e_c, 2) / e_c).otherwise(0.0))
    # materialize the 1-row result so the persisted counts frame can be
    # released HERE instead of leaking a cache entry per call (the same
    # collect-then-unpersist pattern as clustering_report); finally:
    # a failed/cancelled action must release it too
    try:
        row = (
            j.crossJoin(F.broadcast(tots))
            .agg(F.round(F.sum(term), 4).alias("chi2"),
                 (F.max("k") - 1).alias("dof"),
                 F.max("tb").alias("n_baseline"),
                 F.max("tc").alias("n_current"),
                 F.max("k").alias("n_categories"))
        ).first()
    finally:
        both.unpersist()
    from ..plans import local_frame
    return local_frame(
        baseline.sparkSession,
        [row], "chi2 double, dof bigint, n_baseline bigint, "
               "n_current bigint, n_categories bigint")


def quantile_edges(
    df: DataFrame,
    col: str,
    *,
    bins: int = 10,
    relative_error: float = 0.001,
) -> list:
    """Baseline-derived bin edges (interior quantiles, ``bins``-1 of
    them) for PSI on skewed columns where fixed-width buckets starve:
    equal-mass bins give every bucket ~1/bins of baseline probability,
    the standard PSI setup. approxQuantile is one pass (Greenwald-
    Khanna); persist the edges with the baseline so later runs compare
    against the SAME binning."""
    qs = [i / bins for i in range(1, bins)]
    return df.approxQuantile(col, qs, relative_error)


def psi_with_edges(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    edges: list,
) -> DataFrame:
    """PSI over explicit (e.g. quantile) edges: one row
    ``(psi, n_buckets_compared)``. Buckets are :func:`_edge_bucket`
    indices (number of edges ≤ value, NULLs to bucket 0), and the
    number is :func:`drift_report`'s ε-clamped PSI for the one column,
    from the same histogram and combine. Raises when either side has no
    rows: PSI is undefined on an empty sample, where the ε clamp alone
    would report a large finite number."""
    return _one_column(baseline, current, col, edges, False, "psi",
                       "psi_with_edges").select(
        "psi", F.col("n_buckets").alias("n_buckets_compared"))


def _multi_hist(df: DataFrame, edges_by_col: dict, drop_nulls: bool,
                out: str, segment: Optional[Column] = None) -> DataFrame:
    """(column, bucket, count) for EVERY monitored column in one pass:
    per-column :func:`_edge_bucket` indices in the same scan
    projection, exploded and group-counted (map-side partial) — the
    histogram of every binned-drift operator and of
    :func:`histogram_snapshot`. A ``segment`` expression adds a leading
    ``segment`` key (:func:`ks_by_segment`)."""
    folds, entries = [], []
    for i, (c, edges) in enumerate(edges_by_col.items()):
        b = _edge_bucket(F.col(c), edges)
        if drop_nulls:
            b = F.when(F.col(c).isNotNull(), b)
        folds.append(b.alias(f"_b{i}"))
        entries.append(F.struct(F.lit(c).alias("column"),
                                F.col(f"_b{i}").alias("bucket")))
    keys = [] if segment is None else [segment.alias("segment")]
    # the folds get their own projection under the explode: inside the
    # Generate's expressions the interpreted fold made the histogram
    # pass up to 1.5x slower
    pre = df.select(*keys, *folds)
    ex = (pre.select(*pre.columns[:len(keys)], F.inline(F.array(*entries)))
          .filter(F.col("bucket").isNotNull()))
    return ex.groupBy(*ex.columns).agg(F.count(F.lit(1)).alias(out))


def _aligned(base: DataFrame, cur: DataFrame) -> DataFrame:
    """Full-outer align a ``_nb`` and a ``_nc`` histogram on their
    shared keys; a bucket missing on one side counts 0 there."""
    keys = [c for c in base.columns if c != "_nb"]
    return base.join(cur, keys, "full_outer").select(
        *keys, F.coalesce("_nb", F.lit(0)).alias("_nb"),
        F.coalesce("_nc", F.lit(0)).alias("_nc"))


def _combine_drift(j: DataFrame, key: Optional[str]) -> DataFrame:
    """PSI + binned KS + JSD per ``key`` (``column`` or ``segment``)
    from an :func:`_aligned` histogram frame — the tiny-state combine
    every binned-drift operator shares. Returns ``(key, psi, ks, jsd,
    n_base, n_cur, n_buckets)``; a key with an empty side gets NULL
    statistics. ``key=None`` combines the whole frame into exactly ONE
    row, also when both sides are empty (a keyed groupBy over no rows
    yields no row), which the single-column guard needs."""
    keys = [key] if key else []
    wt = Window.partitionBy(*keys)
    wc = wt.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    t = j.select(*keys, "_nb", "_nc",
                 F.sum("_nb").over(wt).alias("_tb"),
                 F.sum("_nc").over(wt).alias("_tc"),
                 F.sum("_nb").over(wc).alias("_cb"),
                 F.sum("_nc").over(wc).alias("_cc"))
    p = F.try_divide(F.col("_nb"), F.col("_tb"))
    q = F.try_divide(F.col("_nc"), F.col("_tc"))
    m = (p + q) / 2
    jsd_term = (F.when(p > 0, p * F.log(p / m)).otherwise(0.0)
                + F.when(q > 0, q * F.log(q / m)).otherwise(0.0))
    ks_gap = F.abs(F.try_divide(F.col("_cb"), F.col("_tb"))
                   - F.try_divide(F.col("_cc"), F.col("_tc")))
    agg = (t.groupBy(*keys)
           .agg(_psi_sum(p, q).alias("psi"),
                F.max(ks_gap).alias("ks"),
                (F.sum(jsd_term) / 2).alias("jsd"),
                F.max("_tb").alias("n_base"),
                F.max("_tc").alias("n_cur"),
                F.count(F.lit(1)).alias("n_buckets")))
    ok = (F.col("n_base") > 0) & (F.col("n_cur") > 0)
    return agg.select(
        *keys,
        *[F.when(ok, F.col(c)).alias(c) for c in ("psi", "ks", "jsd")],
        "n_base", "n_cur", "n_buckets")


def _one_column(baseline: DataFrame, current: DataFrame, col: str,
                edges: list, drop_nulls: bool, stat: str,
                who: str) -> DataFrame:
    """The core's one row for ``col``, with ``stat`` raising when either
    side has no rows (both included) — the empty-side rule of
    :func:`psi_with_edges`, :func:`ks_statistic` and
    :func:`js_divergence`. The sweeps (:func:`drift_report`,
    :func:`drift_from_snapshot`, :func:`ks_by_segment`) report NULL
    statistics for that key instead."""
    j = _aligned(_multi_hist(baseline, {col: edges}, drop_nulls, "_nb"),
                 _multi_hist(current, {col: edges}, drop_nulls, "_nc"))
    # the combine already NULLs the statistic on an empty side
    return _combine_drift(j, None).withColumn(stat, F.when(
        F.col(stat).isNull(), _empty_side_error(stat, who))
        .otherwise(F.col(stat)))


def _empty_side_error(stat: str, who: str) -> Column:
    """The one error of the single-column empty-side rule."""
    return F.raise_error(F.lit(
        f"{who}: baseline or current side has no rows — "
        f"{stat.upper()} is undefined on an empty sample"))


def drift_report(
    baseline: DataFrame,
    current: DataFrame,
    edges_by_col: dict,
    *,
    drop_nulls: bool = False,
) -> DataFrame:
    """The operational drift entry point: PSI, binned KS, AND
    Jensen–Shannon for EVERY monitored column, in ONE job per side —
    the nightly "did any of these 50 columns move" sweep that calling
    the single-column operators 50× would turn into 100 scans.

    ``edges_by_col`` maps column name → its persisted edge list (the
    :func:`quantile_edges` contract). Per side, every column's
    :func:`_edge_bucket` index is computed in the same projection and
    exploded to ``(column, bucket)`` rows, so ONE groupBy shuffles a
    (columns × buckets)-cardinality frame regardless of row count;
    the per-column PSI (ε-clamped), KS (cumulative window PARTITIONED
    BY column — never global), and JSD then aggregate that tiny frame.
    This histogram and combine are the one binned-drift core:
    :func:`psi_with_edges`, :func:`ks_statistic`,
    :func:`js_divergence` and :func:`ks_by_segment` are projections of
    it. Returns one row per column:
    ``(column, psi, ks, jsd, n_base, n_cur)``.

    Conventions follow the single-column operators: NULLs to bucket 0
    unless ``drop_nulls`` (then per-column non-NULL row counts), edges
    persisted with the baseline. A column empty on either side yields
    NULL statistics rather than raising — one all-NULL column must not
    kill the whole sweep — and when both sides are empty there is no
    row for it. When the baseline side is rescanned every run, persist
    it once with :func:`histogram_snapshot` and use
    :func:`drift_from_snapshot` instead."""
    if not edges_by_col:
        raise ValueError("edges_by_col must be non-empty")
    j = _aligned(_multi_hist(baseline, edges_by_col, drop_nulls, "_nb"),
                 _multi_hist(current, edges_by_col, drop_nulls, "_nc"))
    return _combine_drift(j, "column").drop("n_buckets")


def histogram_snapshot(
    df: DataFrame,
    edges_by_col: dict,
    *,
    drop_nulls: bool = False,
) -> DataFrame:
    """Persistable multi-column histogram — the drift family's
    mergeable baseline state: a (column, bucket, n) frame sized by
    columns × buckets, NOT rows. Write it next to the baseline's edges
    and every later run drifts against stored counts without
    rescanning 100 TB of history (:func:`drift_from_snapshot`); counts
    ADD, so incremental appends just write more snapshot rows and the
    re-sum at read time merges them — the HLL/bitmap rollup philosophy
    applied to drift."""
    if not edges_by_col:
        raise ValueError("edges_by_col must be non-empty")
    return _multi_hist(df, edges_by_col, drop_nulls, "n")


def drift_from_snapshot(
    snapshot: DataFrame,
    current: DataFrame,
    edges_by_col: dict,
    *,
    drop_nulls: bool = False,
) -> DataFrame:
    """:func:`drift_report` with the baseline side read from a
    persisted :func:`histogram_snapshot` table (possibly holding many
    appended increments — they merge in the re-sum): one job over the
    CURRENT data only, snapshot-table-sized work for the baseline.
    Same output columns and conventions as drift_report; ``current``
    must bucket with the SAME edges the snapshot was built with."""
    if not edges_by_col:
        raise ValueError("edges_by_col must be non-empty")
    base = snapshot.groupBy("column", "bucket").agg(
        F.sum("n").alias("_nb"))
    j = _aligned(base, _multi_hist(current, edges_by_col, drop_nulls,
                                   "_nc"))
    return _combine_drift(j, "column").drop("n_buckets")


def drift_verdict(
    report: DataFrame,
    *,
    psi_warn: float = 0.1,
    psi_fail: float = 0.25,
    ks_alpha: float = 0.05,
    jsd_fail: Optional[float] = None,
) -> DataFrame:
    """Turn a :func:`drift_report` / :func:`drift_from_snapshot` frame
    into per-column verdicts: the standard PSI bands (< ``psi_warn``
    stable, < ``psi_fail`` drifting, else shifted), the two-sample KS
    critical value at ``ks_alpha`` (``c(α)·sqrt((n+m)/(n·m))`` with
    ``c = sqrt(-ln(α/2)/2)`` — remember the binned statistic bounds
    the true KS from BELOW, so ks_reject=false is not proof of
    stability at coarse grids), and an optional absolute JSD bound.
    ``verdict`` is the worst of the enabled signals
    (pass < warn < fail); columns with NULL statistics (empty side
    under drop_nulls) keep a NULL verdict.

    Driver-free and tiny: one projection over the columns-sized report
    frame — compose with ``filter("verdict = 'fail'")`` for alerting
    or the notifications hub."""
    import math

    c = math.sqrt(-math.log(ks_alpha / 2) / 2)
    # try_divide: a NULL-stat column (empty side under drop_nulls) has
    # n·m = 0 and must yield NULL, not an ANSI DIVIDE_BY_ZERO
    ks_crit = F.lit(c) * F.sqrt(F.try_divide(
        F.col("n_base") + F.col("n_cur"),
        F.col("n_base") * F.col("n_cur")))
    psi_level = (F.when(F.col("psi") >= psi_fail, 2)
                 .when(F.col("psi") >= psi_warn, 1).otherwise(0))
    ks_level = F.when(F.col("ks") > ks_crit, 2).otherwise(0)
    levels = [psi_level, ks_level]
    if jsd_fail is not None:
        levels.append(
            F.when(F.col("jsd") >= jsd_fail, 2).otherwise(0))
    worst = F.greatest(*levels) if len(levels) > 1 else levels[0]
    verdict = (F.when(F.col("psi").isNull(), F.lit(None).cast("string"))
               .when(worst >= 2, "fail").when(worst >= 1, "warn")
               .otherwise("pass"))
    return report.select(
        "*", F.round(ks_crit, 8).alias("ks_critical"),
        (F.col("ks") > ks_crit).alias("ks_reject"),
        verdict.alias("verdict"))


def js_divergence(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    edges: list,
    *,
    drop_nulls: bool = False,
) -> DataFrame:
    """Jensen–Shannon divergence between the two samples' histograms
    over explicit ``edges`` — the bounded, symmetric member of the
    drift family: PSI blows up on buckets one side barely populates and
    KS only sees the worst CDF gap, while JSD ∈ [0, ln 2] always, is
    symmetric, and weighs every bucket (``0.5·Σ p·ln(p/m) +
    0.5·Σ q·ln(q/m)`` with ``m = (p+q)/2``). Natural-log formulation;
    divide by ``ln 2`` for bits. Returns one row (jsd, n_base, n_cur).

    Same histogram, combine and conventions as :func:`ks_statistic`
    (:func:`drift_report`'s core for one column; persist ``edges`` with
    the baseline; NULLs to bucket 0 unless ``drop_nulls``); empty-bucket
    terms contribute 0 for the empty side (lim x→0 of x·ln(x/m)), and
    an empty SIDE raises like KS — the divergence is undefined there."""
    return _one_column(baseline, current, col, edges, drop_nulls, "jsd",
                       "js_divergence").select("jsd", "n_base", "n_cur")


def ks_statistic(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    edges: list,
    *,
    drop_nulls: bool = False,
) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov statistic over explicit
    ``edges``: max |CDF_baseline − CDF_current| evaluated at the edge
    boundaries — the significance-flavored companion to
    :func:`psi_with_edges` (PSI weighs all mass shifts; KS reports the
    single worst CDF gap, the classic "did the distribution move"
    number with known critical values ``c·sqrt((n+m)/(n·m))``).

    Grid evaluation bounds the statistic from below (the true supremum
    may fall between edges); with quantile-derived edges the gap is
    ≤ 1/bins. That is the price of a SCALABLE exact-at-the-grid
    answer: the textbook exact KS sorts both samples together — a
    global single-task sort at 100 TB — while this is
    :func:`drift_report`'s core for one column: one
    :func:`_edge_bucket` histogram pass per side plus a
    bucket-cardinality cumulative window. Returns one row
    (ks, n_base, n_cur); an empty side (either, or both) raises.

    Persist the edges with the baseline (same contract as
    :func:`psi_with_edges`) so every later comparison uses the SAME
    grid.

    NULL convention: by default NULL values of ``col`` land in bucket 0
    (``NULL >= edge`` folds to 0 for every edge) — the same convention
    :func:`psi_with_edges` and the DuckDB oracles use, but it inflates
    both CDFs at the low end if either side is NULL-heavy. Pass
    ``drop_nulls=True`` to exclude NULLs from the statistic entirely
    (``n_base``/``n_cur`` then count non-NULL rows only).
    """
    return _one_column(baseline, current, col, edges, drop_nulls, "ks",
                       "ks_statistic").select("ks", "n_base", "n_cur")


def chi2_by_segment(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    segment_col: str,
    *,
    top_n: int = 100,
) -> DataFrame:
    """Per-SEGMENT two-sample chi-square homogeneity — the grouped
    twin of :func:`chi2_categorical`, for the fleet-of-tests question
    ("did the event mix shift in ANY region/day/cohort?") that a
    whole-table test averages away. Returns one row per segment value
    present on either side: ``(segment, chi2, dof, n_baseline,
    n_current, n_categories)`` with dof = categories − 1 within the
    segment after the top-N tail fold. Segments and categories
    normalize NULL to ``'__null__'`` like the ungrouped operator; the
    top-N cut is per segment on COMBINED counts (same phantom-shift
    reasoning as chi2_categorical, applied within each segment).

    Many tests at once beg the multiple-testing question — feed the
    output through :func:`chi2_pvalue` and :func:`fdr_bh`.

    Scale shape: one (segment, category) groupBy per side, a
    full-outer join on that composite key, ONE rank window per segment
    for the top-N cut (segment-partitioned — thousands of small
    windows, never a global sort), and a segment-keyed re-agg. Output
    is segments-scale; nothing returns to the driver.
    """
    seg = F.coalesce(F.col(segment_col).cast("string"),
                     F.lit("__null__"))
    cat = F.coalesce(F.col(col).cast("string"), F.lit("__null__"))

    def raw(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy(seg.alias("segment"),
                          cat.alias("category")).agg(
            F.count(F.lit(1)).alias(out))

    both = (raw(baseline, "nb")
            .join(raw(current, "nc"), ["segment", "category"],
                  "full_outer")
            .select("segment", "category",
                    F.coalesce("nb", F.lit(0)).alias("nb"),
                    F.coalesce("nc", F.lit(0)).alias("nc")))
    w = Window.partitionBy("segment").orderBy(
        (F.col("nb") + F.col("nc")).desc(), F.col("category").asc())
    j = (both.withColumn("__rk", F.row_number().over(w))
         .select("segment",
                 F.when(F.col("__rk") <= int(top_n), F.col("category"))
                 .otherwise(F.lit("__other__")).alias("category"),
                 "nb", "nc")
         .groupBy("segment", "category")
         .agg(F.sum("nb").alias("nb"), F.sum("nc").alias("nc")))
    tots = j.groupBy("segment").agg(
        F.sum("nb").alias("tb"), F.sum("nc").alias("tc"),
        F.count(F.lit(1)).alias("k"))
    jt = j.join(tots, "segment")
    e_b = ((F.col("nb") + F.col("nc")) * F.col("tb")
           / (F.col("tb") + F.col("tc")))
    e_c = ((F.col("nb") + F.col("nc")) * F.col("tc")
           / (F.col("tb") + F.col("tc")))
    term = (
        F.when(e_b > 0, F.pow(F.col("nb") - e_b, 2) / e_b).otherwise(0.0)
        + F.when(e_c > 0, F.pow(F.col("nc") - e_c, 2) / e_c)
        .otherwise(0.0))
    return (jt.groupBy("segment")
            .agg(F.round(F.sum(term), 4).alias("chi2"),
                 (F.max("k") - 1).cast("long").alias("dof"),
                 F.max("tb").alias("n_baseline"),
                 F.max("tc").alias("n_current"),
                 F.max("k").alias("n_categories")))


def chi2_pvalue(
    chi2_col,
    dof_col,
    *,
    max_dof: int = 40,
    digits: int = 9,
):
    """Column expression for the chi-square survival function
    ``P(X² > x)`` at EVEN degrees of freedom — closed form, no gamma
    tables: with dof = 2m, the chi² distribution is Erlang(m, 1/2) and
    ``P(X > x) = exp(-x/2) · Σ_{j<m} (x/2)^j / j!`` — a finite sum of
    exp/pow/constants both any SQL engine and Spark evaluate
    identically (this is why :func:`chi2_by_segment` fixtures use
    even category counts). Data-dependent dof is handled by a CASE
    chain over even dof up to ``max_dof``; ODD dof yields NULL (the
    odd form needs erf, which portable SQL lacks — add a category or
    accept NULL), as do dof < 2 (a 1-category segment tests nothing)
    and dof > max_dof. Rounded to ``digits``.
    """
    if max_dof < 2:
        raise ValueError("max_dof must be >= 2")
    import math

    def _sql_ref(c):
        # string column names (every caller) build the CASE chain as
        # ONE SQL string: the Column-op loop issued ~1.5k py4j round
        # trips at max_dof=40 (events_drift_fdr profiled at 9.3k
        # round trips / 1.3s of build inside this function — r16).
        # The parsed tree is the identical when-chain / pow-sum; a
        # float's repr round-trips to the same double.
        if isinstance(c, str):
            return "`" + c.replace("`", "``") + "`"
        if isinstance(c, int) and not isinstance(c, bool):
            return str(c)
        return None

    x_sql, d_sql = _sql_ref(chi2_col), _sql_ref(dof_col)
    if x_sql is not None and d_sql is not None:
        def dl(v):
            return f"CAST({float(v)!r} AS DOUBLE)"
        half = f"({x_sql} / {dl(2.0)})"
        whens = []
        # descending order == the Column loop's nesting (outermost
        # when is the LAST dof); conditions are disjoint anyway
        for dof in range(max_dof - (max_dof % 2), 1, -2):
            m = dof // 2
            s = dl(0.0)
            for jj in range(m):
                s = (f"({s} + pow({half}, {dl(jj)})"
                     f" / {dl(math.factorial(jj))})")
            whens.append(
                f"WHEN {d_sql} = {dof} THEN (exp(- {half}) * {s})")
        expr = F.expr("CASE " + " ".join(whens)
                      + " ELSE CAST(NULL AS DOUBLE) END")
        return F.round(expr, digits) + F.lit(0.0)
    # int/float inputs must become literal Columns here: the SQL fast
    # path above only fires when BOTH refs are str/int, so a (Column
    # chi2, int dof) mix lands in this loop where a plain-int ``d``
    # would make ``d == dof`` a Python bool and F.when raise TypeError
    def _as_col(c):
        if isinstance(c, str):
            return F.col(c)
        if isinstance(c, (int, float)) and not isinstance(c, bool):
            return F.lit(c)
        return c

    x = _as_col(chi2_col)
    d = _as_col(dof_col)
    half = x / F.lit(2.0)
    expr = F.lit(None).cast("double")
    for dof in range(2, max_dof + 1, 2):
        m = dof // 2
        s = F.lit(0.0)
        for jj in range(m):
            s = s + F.pow(half, F.lit(float(jj))) \
                / F.lit(float(math.factorial(jj)))
        expr = F.when(d == dof, F.exp(-half) * s).otherwise(expr)
    return F.round(expr, digits) + F.lit(0.0)


def fdr_bh(
    df: DataFrame,
    p_col: str,
    *,
    alpha: float = 0.05,
    tiebreak_cols: tuple[str, ...] | list[str] = (),
    adj_out: str = "p_adj",
    reject_out: str = "rejected",
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction over a frame
    of p-values — the required step between "I ran 500 drift tests"
    and "these segments actually drifted": at alpha = 0.05, 500 true
    nulls yield ~25 raw rejections by construction; BH caps the
    EXPECTED FALSE-DISCOVERY FRACTION at alpha instead. Adds
    ``p_adj`` (step-up adjusted p-value: p·n/rank, then a running min
    from the largest p down, clamped to 1) and ``rejected``
    (p_adj <= alpha). NULL p-values (e.g. odd-dof segments from
    :func:`chi2_pvalue`) are passed through unadjusted and never
    rejected, and do NOT count toward n. Ties order by
    ``tiebreak_cols`` so the adjustment is deterministic.

    Scale shape: the input is HYPOTHESES-scale (one row per test —
    segments, features — not data rows), so the single rank window is
    a deliberate, documented exception to the no-global-window rule;
    feeding corpus-scale rows into an FDR correction is a modeling
    error, not a missing optimization.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    p = F.col(p_col)
    tb = [F.col(c).asc() for c in tiebreak_cols]
    nn = df.filter(p.isNotNull())
    w_rank = Window.orderBy(p.asc(), *tb)
    ranked = nn.select(
        "*",
        F.row_number().over(w_rank).alias("__rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__n"))
    # step-up: running min of p·n/rank from the LARGEST p downward
    w_tail = (Window.orderBy(F.col("__rk").desc())
              .rowsBetween(Window.unboundedPreceding,
                           Window.currentRow))
    raw = (p * F.col("__n") / F.col("__rk")).alias("__raw")
    scored = (ranked.select("*", raw)
              .withColumn(adj_out,
                          F.least(F.min("__raw").over(w_tail),
                                  F.lit(1.0)))
              .withColumn(reject_out, F.col(adj_out) <= F.lit(alpha))
              .drop("__rk", "__n", "__raw"))
    nulls = (df.filter(p.isNull())
             .withColumn(adj_out, F.lit(None).cast("double"))
             .withColumn(reject_out, F.lit(False)))
    return scored.unionByName(nulls)


def ks_pvalue(
    ks_col,
    n_base_col,
    n_cur_col,
    *,
    terms: int = 50,
    digits: int = 9,
):
    """Column expression for the two-sample KS p-value via the
    asymptotic Kolmogorov distribution: with effective sample size
    ``n_e = n·m/(n+m)`` and ``λ = (√n_e + 0.12 + 0.11/√n_e)·D`` (the
    Stephens small-sample correction, Numerical Recipes §14.3),

        p ≈ Q_KS(λ) = 2·Σ_{j=1..terms} (−1)^{j−1} exp(−2 j² λ²)

    clamped to [0, 1]. A FIXED truncation of a fast-decaying
    alternating series — exp and arithmetic only, so any SQL engine
    reproduces it bit-for-bit (the chi2_pvalue portability argument;
    at λ ≥ 0.3 the 50-term tail is below double precision). Feeds
    :func:`fdr_bh` when many KS tests run at once. Remember
    :func:`ks_statistic` is a grid LOWER bound on D, so this p-value
    is conservative-high by the same margin.
    """
    if terms < 1:
        raise ValueError("terms must be >= 1")
    d = F.col(ks_col) if isinstance(ks_col, str) else ks_col
    nb = (F.col(n_base_col) if isinstance(n_base_col, str)
          else n_base_col).cast("double")
    nc = (F.col(n_cur_col) if isinstance(n_cur_col, str)
          else n_cur_col).cast("double")
    ne = F.try_divide(nb * nc, nb + nc)
    # ne = 0 (an empty side) must yield NULL, not an ANSI
    # divide-by-zero from the 0.11/sqrt(ne) correction term
    lam = F.when(ne > 0,
                 (F.sqrt(ne) + F.lit(0.12)
                  + F.lit(0.11) / F.sqrt(ne)) * d)
    # the series is a fold over sequence(1..terms), NOT an unrolled
    # 50-term expression tree: unrolled, λ inlines ~2×terms times and
    # the generated projection code grows past the JVM's 64 KB method
    # limit (measured: whole-stage codegen compile fails and the whole
    # stage falls back to interpreted eval). The fold keeps the
    # expression O(1) size with BIT-IDENTICAL arithmetic — same
    # left-associated summation order, and −2.0·j² is an exact double
    # product either way — so the SQL oracles are unaffected.
    def _series_step(acc, j):
        jj = (j * j).cast("double")
        term = F.exp(F.lit(-2.0) * jj * lam * lam)
        return acc + F.when(j % 2 == 1, term).otherwise(-term)

    s = F.aggregate(F.sequence(F.lit(1), F.lit(terms)), F.lit(0.0),
                    _series_step)
    # λ = 0 (D = 0) is the series' one degenerate point: every term is
    # 1 and an even truncation sums to 0 — the true Q_KS(0⁺) is 1.
    # NULL inputs (e.g. ks_by_segment's one-sided segments) pass
    # through as NULL p — a WHEN(NULL > 0) would otherwise fall into
    # the λ=0 branch and report a confident 1.0
    p = (F.when(lam.isNull(), F.lit(None).cast("double"))
         .when(lam > 0,
               F.greatest(F.least(F.lit(2.0) * s, F.lit(1.0)),
                          F.lit(0.0)))
         .otherwise(F.lit(1.0)))
    return F.round(p, digits) + F.lit(0.0)


def ks_by_segment(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    segment_col: str,
    *,
    edges: list,
    drop_nulls: bool = False,
) -> DataFrame:
    """Per-SEGMENT binned two-sample KS — the grouped twin of
    :func:`ks_statistic` completing the fleet-of-tests story for
    NUMERIC drift the way :func:`chi2_by_segment` does for
    categorical: "did the price distribution move in ANY region/day/
    cohort". Returns ``(segment, ks, n_base, n_cur)``; feed through
    :func:`ks_pvalue` and :func:`fdr_bh` before acting on any single
    segment's number. Same grid/NULL conventions as ks_statistic
    (grid evaluation bounds D from below; ``drop_nulls=True`` excludes
    NULL values, else they land in bucket 0). Segments with rows on
    only one side yield NULL ks (a one-sided KS is undefined) rather
    than raising — a fleet sweep should report the degenerate cohort,
    not die on it.

    Scale shape: :func:`drift_report`'s core keyed by segment — one
    (segment, bucket) groupBy per side (the bucket fold rides the scan
    projection), a full-outer align, per-segment cumulative windows
    (segment-partitioned, bucket-cardinality rows each), and a
    segment-keyed max. Output is segments-scale.
    """
    seg = F.coalesce(F.col(segment_col).cast("string"),
                     F.lit("__null__"))
    j = _aligned(
        _multi_hist(baseline, {col: edges}, drop_nulls, "_nb", seg),
        _multi_hist(current, {col: edges}, drop_nulls, "_nc", seg))
    return _combine_drift(j, "segment").select(
        "segment", "ks", "n_base", "n_cur")


def survival_curve(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimate over per-subject
    ``(duration, event)`` rows — the time-to-event statistic behind
    churn/retention curves (how long do users stay active, how long do
    documents survive refresh cycles), computed without any per-subject
    driver loop. ``event_col`` is 1 when the terminal event was
    OBSERVED at ``duration`` and 0 when the subject was CENSORED there
    (still alive when observation ended — the censoring arithmetic is
    what separates K-M from a naive survival fraction). Returns one row
    per (group, distinct duration):

        (t, n_risk, n_event, n_censored, survival)

    with ``survival = Π_{u <= t} (1 − d_u / n_u)`` over event times —
    the classic estimator (Kaplan & Meier 1958).

    Scale shape: ONE (group, t) groupBy collapses subjects to
    time-cardinality rows, then two group-partitioned cumulative
    windows over those rows: at-risk counts come from the DESCENDING
    cumulative total (n_t = subjects with duration >= t) and the
    product from exp(Σ ln(1 − d/n)) ASCENDING — logs instead of a
    product aggregate so the whole curve stays in codegen; the one
    ln(0) hazard (d == n at the last time) is handled by an explicit
    cumulative extinction flag rather than propagating -inf. Output is
    (groups × distinct durations)-cardinality; subjects never shuffle
    after the first groupBy. Windows partition by group — single-task
    only for an ungrouped corpus-wide curve over very many distinct
    durations (bucket durations first in that case).

    Float contract: survival is exp/ln double arithmetic — round to
    9dp (+0.0) for cross-engine comparison, the repo's standing
    convention."""
    gc = list(group_cols)
    if any(c in ("t", "n_risk", "n_event", "n_censored", "survival")
           for c in gc):
        raise ValueError("group_cols collide with the output columns")
    return survival_from_time_counts(
        survival_time_counts(df, duration_col, event_col,
                             group_cols=gc), group_cols=gc)


def survival_time_counts(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """The ADDITIVE half of :func:`survival_curve`: per-(group, t)
    event/censor counts ``(group..., t, n_event, n_censored)``. Counts
    from disjoint subject batches SUM to the union's counts exactly
    (each subject contributes one row), which is what makes the K-M
    curve day-2 incremental — see
    ``streaming.incremental_survival_state``."""
    gc = list(group_cols)
    d = F.col(event_col).cast("int")
    return (df.select(*gc, F.col(duration_col).alias("t"), d.alias("_e"))
            .groupBy(*gc, "t")
            .agg(F.sum("_e").alias("n_event"),
                 F.sum(1 - F.col("_e")).alias("n_censored")))


def survival_from_time_counts(
    per_t: DataFrame,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """The window half of :func:`survival_curve`, over a
    :func:`survival_time_counts` frame (or any exact re-sum of such
    frames — the merge is associative integer addition)."""
    gc = list(group_cols)
    w_desc = (Window.partitionBy(*gc).orderBy(F.col("t").desc())
              .rowsBetween(Window.unboundedPreceding, 0))
    w_asc = (Window.partitionBy(*gc).orderBy("t")
             .rowsBetween(Window.unboundedPreceding, 0))
    at_risk = per_t.withColumn(
        "n_risk", F.sum(F.col("n_event") + F.col("n_censored")).over(w_desc))
    # hazard logs only where the group survives the time step; a step
    # with d == n extinguishes the curve from there on (flag, not -inf)
    ln_term = F.when(F.col("n_event") < F.col("n_risk"),
                     F.log(1.0 - F.col("n_event") / F.col("n_risk"))) \
        .otherwise(F.lit(0.0))
    extinct = F.max((F.col("n_event") == F.col("n_risk")).cast("int")) \
        .over(w_asc)
    surv = F.when(extinct == 1, F.lit(0.0)) \
        .otherwise(F.exp(F.sum(ln_term).over(w_asc)))
    return (at_risk
            .withColumn("survival", surv)
            .select(*gc, "t", "n_risk", "n_event", "n_censored",
                    "survival"))


def cusum_change_point(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """WHERE did the metric shift — the temporal member of the drift
    family (PSI/KS/chi² say whether two snapshots differ; this finds
    the change point inside ONE series): per group, buckets ordered by
    ``bucket_col`` carry the per-bucket mean of ``value_col``, and the
    standardized CUSUM statistic

        T_k = |Σ_{i<=k} (x_i − x̄)| · sqrt(n / (k · (n − k)))

    is maximized over split points k ∈ 1..n−1 — the classic
    mean-shift scan (Page 1954 / Pettitt's MacNeill form). Returns one
    row per group:

        (n_buckets, change_at, tmax, mean_left, mean_right)

    where ``change_at`` is the LAST bucket of the left segment (ties
    break to the earliest bucket, deterministically) and the two means
    are the bucket-mean averages either side of it. Groups with fewer
    than 2 buckets yield NULL change_at/tmax (no split exists).

    Scale shape: ONE (group, bucket) groupBy collapses the corpus to
    bucket-cardinality rows; everything after — the centered cumulative
    sum, the statistic, the argmax rank — is group-partitioned windows
    over those rows. Float contract: tmax/means are double sums over
    bucket means — round to 9dp (+0.0) cross-engine."""
    gc = list(group_cols)
    if any(c in ("n_buckets", "change_at", "tmax", "mean_left",
                 "mean_right") for c in gc):
        raise ValueError("group_cols collide with the output columns")
    return cusum_from_bucket_stats(
        cusum_bucket_stats(df, bucket_col, value_col, group_cols=gc),
        group_cols=gc)


def cusum_bucket_stats(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """The ADDITIVE half of :func:`cusum_change_point`: per-(group,
    bucket) value sums and non-null counts ``(group..., _b, _sv,
    _nv)``. Sums/counts from disjoint row batches ADD to the union's
    exactly, so the bucket means — and therefore the whole scan — are
    day-2 incremental (``streaming.incremental_cusum_state``)."""
    gc = list(group_cols)
    v = F.col(value_col).cast("double")
    return (df.groupBy(*gc, F.col(bucket_col).alias("_b"))
            .agg(F.sum(v).alias("_sv"), F.count(v).alias("_nv")))


def cusum_from_bucket_stats(
    per: DataFrame,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """The scan half of :func:`cusum_change_point`, over a
    :func:`cusum_bucket_stats` frame (or an exact SUM re-merge of
    such frames). Bucket mean = _sv/_nv — the same sum/count division
    ``avg`` performs, so the one-shot and merged paths agree."""
    gc = list(group_cols)
    per_b = (per.filter(F.col("_nv") > 0)
             .select(*gc, "_b",
                     (F.col("_sv") / F.col("_nv")).alias("_x")))
    wg = Window.partitionBy(*gc)
    w_asc = wg.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    stats = (per_b
             .withColumn("_n", F.count(F.lit(1)).over(wg))
             .withColumn("_xbar", F.avg("_x").over(wg))
             .withColumn("_k", F.row_number().over(wg.orderBy("_b")))
             # Σx − k·x̄, NOT Σ(x − x̄): the same floating expression
             # an SQL replay writes, so the two engines round the same
             # way instead of 9dp-close
             .withColumn("_s", F.sum("_x").over(w_asc)
                         - F.col("_k") * F.col("_xbar"))
             .withColumn("_cml", F.avg("_x").over(w_asc)))
    cand = (stats.filter(F.col("_k") < F.col("_n"))
            .withColumn("_t", F.abs(F.col("_s")) * F.sqrt(
                F.col("_n") / (F.col("_k") * (F.col("_n") - F.col("_k")))))
            )
    pick = Window.partitionBy(*gc).orderBy(F.col("_t").desc(), "_b")
    best = (cand.withColumn("_rk", F.row_number().over(pick))
            .filter(F.col("_rk") == 1))
    mean_right = ((F.col("_n") * F.col("_xbar")
                   - F.col("_k") * F.col("_cml"))
                  / (F.col("_n") - F.col("_k")))
    picked = best.select(
        *gc, F.col("_n").alias("n_buckets"),
        F.col("_b").alias("change_at"), F.col("_t").alias("tmax"),
        F.col("_cml").alias("mean_left"), mean_right.alias("mean_right"))
    # groups too small to split (n < 2) never reach `cand`; re-attach
    # them with NULL results so the fleet report stays total
    bt = per_b.schema["_b"].dataType
    singles = (per_b.groupBy(*gc)
               .agg(F.count(F.lit(1)).alias("n_buckets"))
               .filter(F.col("n_buckets") < 2)
               .select(*gc, "n_buckets",
                       F.lit(None).cast(bt).alias("change_at"),
                       F.lit(None).cast("double").alias("tmax"),
                       F.lit(None).cast("double").alias("mean_left"),
                       F.lit(None).cast("double").alias("mean_right")))
    return picked.unionByName(singles)


#: Abramowitz & Stegun 7.1.26 erf-polynomial constants, written as the
#: exact double literals BOTH engines aggregate over (the BENFORD_P
#: convention): p(x) below approximates the two-sided normal tail
#: 2·(1−Φ(|z|)) with |error| ≤ 1.5e-7 — and, because Spark and any SQL
#: replay evaluate the SAME polynomial, the two engines agree to far
#: tighter than the 9dp compare even where the approximation itself is
#: loose.
_AS_ERF = (0.254829592, -0.284496736, 1.421413741,
           -1.453152027, 1.061405429)
_AS_P = 0.3275911


def normal_two_sided_p(z) -> "F.Column":
    """Two-sided normal tail 2·(1−Φ(|z|)) via the A&S 7.1.26 erf
    polynomial — pure +·/exp column arithmetic, so it runs in codegen
    and replays identically in SQL engines (no erf builtin needed on
    either side). ``z`` is any numeric column expression."""
    x = F.abs(z.cast("double"))
    y = x / F.lit(2.0 ** 0.5)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * y)
    poly = (F.lit(_AS_ERF[0]) * t + F.lit(_AS_ERF[1]) * t * t
            + F.lit(_AS_ERF[2]) * t * t * t
            + F.lit(_AS_ERF[3]) * t * t * t * t
            + F.lit(_AS_ERF[4]) * t * t * t * t * t)
    return poly * F.exp(-x * x / F.lit(2.0))


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    side_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Two-sided Mann-Whitney U (Wilcoxon rank-sum) per group — the
    nonparametric "did treatment shift the distribution" test the
    drift family lacked: KS asks about the worst CDF gap, chi² about
    bucket frequencies; rank-sum asks whether one labeled SIDE
    stochastically dominates the other, with no distributional
    assumption and exact average-rank tie handling. ``side_col`` is
    0/1 (1 = treatment); NULL/NaN values and out-of-domain sides are
    excluded (NaN has no rank — engines disagree on its sort slot). Returns one
    row per group:

        (n1, n2, u, cliffs_delta, z, p_value)

    where ``u`` is side-1's U statistic (R₁ − n₁(n₁+1)/2 over
    average ranks), ``cliffs_delta = 2U/(n₁n₂) − 1`` the
    ordinal effect size in [−1, 1] (P(x₁ > x₂) − P(x₂ > x₁), ties
    splitting — the "how big", where z/p only say "how sure"; ±0.147/
    0.33/0.474 are the conventional small/medium/large bands), ``z``
    the U statistic's tie-corrected normal standardization

        z = (U − n₁n₂/2) / sqrt(n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1))))

    (no continuity correction — both engines compute the identical
    expression, which matters more here than the ±0.5 refinement;
    scipy's default differs by that correction), and ``p_value`` the
    :func:`normal_two_sided_p` polynomial tail. Degenerate groups
    (either side empty, or every value tied so σ = 0) return NULL
    z/p. The normal approximation needs n₁, n₂ ≳ 8 — at smaller n use
    an exact-permutation tool; this operator is for corpus-scale
    segments.

    Scale shape: ONE (group, value) groupBy collapses the corpus to
    distinct-value rows carrying per-side counts; average ranks come
    from a group-partitioned cumulative window over those rows (ranks
    of a tie block = count-before + (t+1)/2, exactly the average of
    its row_numbers); the test statistic is one group fold. Rows
    shuffle once. Float contract: u/z/p are double arithmetic over
    exact integer counts — round 9dp (+0.0) cross-engine."""
    per_v = rank_value_counts(df, value_col, side_col,
                              group_cols=group_cols)
    return mann_whitney_from_value_counts(per_v, group_cols=group_cols)


def rank_value_counts(
    df: DataFrame,
    value_col: str,
    side_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Mann-Whitney sufficient statistics: per-(group, value) rows
    ``(_v, _t, _t1)`` — total count and side-1 count at each distinct
    value. These are ADDITIVE (integer counts SUM-merge exactly, a
    value's rows may split across batches freely), which is what makes
    the rank test day-2 incremental: persist these per batch
    (:func:`~..streaming.incremental_rank_state`) and finish with
    :func:`mann_whitney_from_value_counts` over the SUM-merged rows —
    bit-identical to the one-shot over the union (r15 verdict task 6:
    the CUSUM ``cusum_bucket_stats`` convention applied to the rank
    family)."""
    gc = list(group_cols)
    if any(c in ("n1", "n2", "u", "cliffs_delta", "z", "p_value")
           for c in gc):
        raise ValueError("group_cols collide with the output columns")
    v = F.col(value_col).cast("double")
    s = F.col(side_col).cast("int")
    base = (df.select(*gc, v.alias("_v"), s.alias("_s"))
            .filter(F.col("_v").isNotNull() & ~F.isnan("_v")
                    & F.col("_s").isin(0, 1)))
    return (base.groupBy(*gc, "_v")
            .agg(F.count(F.lit(1)).alias("_t"),
                 F.sum("_s").alias("_t1")))


def mann_whitney_from_value_counts(
    per_v: DataFrame,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Finish :func:`mann_whitney_u` from
    :func:`rank_value_counts`-shaped rows (``_v, _t, _t1`` per group).
    Re-collapses per (group, _v) first so SUM-mergeable state dirs —
    where a value's counts may arrive in several pieces — feed in
    directly; the average-rank window and the one-row fold are exactly
    the one-shot path."""
    gc = list(group_cols)
    per_v = (per_v.groupBy(*gc, "_v")
             .agg(F.sum("_t").alias("_t"), F.sum("_t1").alias("_t1")))
    w_prev = (Window.partitionBy(*gc).orderBy("_v")
              .rowsBetween(Window.unboundedPreceding, -1))
    ranked = per_v.withColumn(
        "_rbar",
        F.coalesce(F.sum("_t").over(w_prev), F.lit(0)).cast("double")
        + (F.col("_t") + 1) / 2.0)
    agg = (ranked.groupBy(*gc)
           .agg(F.sum("_t1").alias("_n1"),
                F.sum(F.col("_t") - F.col("_t1")).alias("_n2"),
                F.sum(F.col("_t1") * F.col("_rbar")).alias("_r1"),
                F.sum(F.col("_t") * F.col("_t") * F.col("_t")
                      - F.col("_t")).alias("_ties")))
    n1, n2 = F.col("_n1"), F.col("_n2")
    n = n1 + n2
    u = F.col("_r1") - n1 * (n1 + 1) / F.lit(2.0)
    var = (n1 * n2 / F.lit(12.0)
           * ((n + 1) - F.col("_ties") / (n * (n - 1))))
    sigma = F.sqrt(var)
    z = F.when((n1 > 0) & (n2 > 0) & (sigma > 0),
               (u - n1 * n2 / F.lit(2.0)) / sigma)
    return agg.select(
        *gc, n1.alias("n1"), n2.alias("n2"),
        F.when((n1 > 0) & (n2 > 0), u).alias("u"),
        F.when((n1 > 0) & (n2 > 0),
               F.lit(2.0) * u / (n1 * n2) - 1).alias("cliffs_delta"),
        z.alias("z"),
        F.when(z.isNotNull(),
               normal_two_sided_p(z)).alias("p_value"))


def theilsen_trend(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Theil-Sen robust trend per group — the slope a level shift or a
    few wild outliers cannot drag (breakdown point ~29%, vs 0% for
    OLS): slope = the EXACT median of all pairwise slopes
    (y_j − y_i)/(x_j − x_i) over points with distinct x, intercept =
    the exact median of (y − slope·x) over the points. Returns one row
    per group:

        (n_points, n_pairs, slope, intercept)

    with NULL slope/intercept when fewer than 2 distinct x (no pair
    exists). Even-count medians average the two middle values (the
    repo's exact-median convention). NULL/NaN x/y rows are excluded
    (NaN orders differently across engines). Ties among equal slopes make the
    middle ELEMENT order-arbitrary but its VALUE identical, so the
    result is deterministic and oracle-checkable.

    Scale shape: pairwise slopes are quadratic IN THE GROUP — feed
    bucket-collapsed series (the CUSUM convention: one groupBy to
    per-(group, bucket) means first), where groups are
    bucket-cardinality (days, weeks) and the in-group pair join is
    KB-scale. The pair generation is one group-keyed self-join, the
    two medians are group-partitioned rank windows; nothing is
    corpus². Float contract: slope/intercept are double arithmetic —
    round 9dp (+0.0) cross-engine."""
    gc = list(group_cols)
    if any(c in ("n_points", "n_pairs", "slope", "intercept")
           for c in gc):
        raise ValueError("group_cols collide with the output columns")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    pts = (df.select(*gc, x.alias("_x"), y.alias("_y"))
           .filter(F.col("_x").isNotNull() & ~F.isnan("_x")
                   & F.col("_y").isNotNull() & ~F.isnan("_y")))
    a = pts.select(*gc, F.col("_x").alias("_xa"), F.col("_y").alias("_ya"))
    b = pts.select(*gc, F.col("_x").alias("_xb"), F.col("_y").alias("_yb"))
    pairs = (a.join(b, gc) if gc else a.crossJoin(b)) \
        .filter(F.col("_xa") < F.col("_xb")) \
        .select(*gc, ((F.col("_yb") - F.col("_ya"))
                      / (F.col("_xb") - F.col("_xa"))).alias("_m"))

    def _median(frame: DataFrame, col: str, out: str) -> DataFrame:
        wg = Window.partitionBy(*gc)
        wr = wg.orderBy(col)
        ranked = (frame
                  .withColumn("_cnt", F.count(F.lit(1)).over(wg))
                  .withColumn("_rk", F.row_number().over(wr)))
        # odd cnt: the single middle 2·rk == cnt+1; even cnt: average
        # the two middles 2·rk ∈ {cnt, cnt+2} — all-integer predicates
        return (ranked.filter(
            ((F.col("_cnt") % 2 == 1)
             & (F.col("_rk") * 2 == F.col("_cnt") + 1))
            | ((F.col("_cnt") % 2 == 0)
               & ((F.col("_rk") * 2 == F.col("_cnt"))
                  | (F.col("_rk") * 2 == F.col("_cnt") + 2))))
            .groupBy(*gc)
            .agg(F.avg(col).alias(out),
                 F.max("_cnt").alias(f"__n_{out}")))

    slopes = _median(pairs, "_m", "slope")
    resid = (pts.join(slopes.select(*gc, "slope"), gc)
             if gc else pts.crossJoin(slopes.select("slope"))) \
        .select(*gc, (F.col("_y") - F.col("slope") * F.col("_x"))
                .alias("_r"))
    inter = _median(resid, "_r", "intercept")
    counts = pts.groupBy(*gc).agg(F.count(F.lit(1)).alias("n_points"))
    out = (counts
           .join(slopes, gc, "left") if gc
           else counts.crossJoin(slopes))
    out = out.join(inter, gc, "left") if gc else out.crossJoin(inter)
    return out.select(
        *gc, "n_points",
        F.coalesce(F.col("__n_slope"), F.lit(0)).cast("long")
        .alias("n_pairs"),
        "slope", "intercept")


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Kendall's tau-b rank correlation per group — the monotonic-
    association companion to :func:`theilsen_trend` (Theil-Sen says
    how steep; tau says how CONSISTENTLY one variable rises with the
    other, outlier-proof because only order matters):

        tau_b = (C − D) / sqrt((n₀ − T_x)(n₀ − T_y))

    over all unordered point pairs, where C/D count concordant/
    discordant pairs (strict agreement/disagreement in both orders),
    n₀ = n(n−1)/2, and T_x/T_y = Σ t(t−1)/2 over tie blocks of each
    variable (the tie correction that keeps tau in [−1, 1] on tied
    data). Returns one row per group:

        (n_points, n_pairs, concordant, discordant, tau_b)

    with NULL tau_b when either tie-corrected denominator term is 0
    (a constant variable has no order to correlate). NULL x/y rows
    are excluded.

    Scale shape: the theilsen convention — feed bucket-collapsed
    series (one groupBy to per-(group, bucket) means first); pairs
    are one group-keyed self-join over bucket-cardinality rows
    (deterministically ordered by a (x, y)-sorted row_number so each
    unordered pair counts once), tie blocks are two value-collapse
    groupBys, and the fold is group-cardinality joins. Nothing is
    corpus². Float contract: tau_b is double arithmetic over exact
    integer counts — round 9dp (+0.0) cross-engine."""
    gc = list(group_cols)
    if any(c in ("n_points", "n_pairs", "concordant", "discordant",
                 "tau_b") for c in gc):
        raise ValueError("group_cols collide with the output columns")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    pts = (df.select(*gc, x.alias("_x"), y.alias("_y"))
           .filter(F.col("_x").isNotNull() & ~F.isnan("_x")
                   & F.col("_y").isNotNull() & ~F.isnan("_y")))
    w = Window.partitionBy(*gc).orderBy("_x", "_y")
    idx = pts.withColumn("_i", F.row_number().over(w))
    a = idx.select(*gc, F.col("_x").alias("_xa"),
                   F.col("_y").alias("_ya"), F.col("_i").alias("_ia"))
    b = idx.select(*gc, F.col("_x").alias("_xb"),
                   F.col("_y").alias("_yb"), F.col("_i").alias("_ib"))
    pairs = (a.join(b, gc) if gc else a.crossJoin(b)) \
        .filter(F.col("_ia") < F.col("_ib"))
    sgn = (F.signum(F.col("_xb") - F.col("_xa"))
           * F.signum(F.col("_yb") - F.col("_ya")))
    per_pair = (pairs.groupBy(*gc)
                .agg(F.count(F.lit(1)).alias("n_pairs"),
                     F.sum((sgn > 0).cast("long")).alias("concordant"),
                     F.sum((sgn < 0).cast("long")).alias("discordant")))
    tx = (pts.groupBy(*gc, "_x").agg(F.count(F.lit(1)).alias("_t"))
          .groupBy(*gc)
          .agg((F.sum(F.col("_t") * (F.col("_t") - 1)) / 2)
               .cast("long").alias("_tx")))
    ty = (pts.groupBy(*gc, "_y").agg(F.count(F.lit(1)).alias("_t"))
          .groupBy(*gc)
          .agg((F.sum(F.col("_t") * (F.col("_t") - 1)) / 2)
               .cast("long").alias("_ty")))
    counts = pts.groupBy(*gc).agg(F.count(F.lit(1)).alias("n_points"))
    out = counts
    for frame in (per_pair, tx, ty):
        out = (out.join(frame, gc, "left") if gc
               else out.crossJoin(frame))
    n0 = F.coalesce(F.col("n_pairs"), F.lit(0))
    denom_x = n0 - F.coalesce(F.col("_tx"), F.lit(0))
    denom_y = n0 - F.coalesce(F.col("_ty"), F.lit(0))
    tau = F.when(
        (denom_x > 0) & (denom_y > 0),
        (F.col("concordant") - F.col("discordant"))
        / F.sqrt(denom_x.cast("double") * denom_y.cast("double")))
    return out.select(
        *gc, "n_points", n0.alias("n_pairs"),
        F.coalesce(F.col("concordant"), F.lit(0)).alias("concordant"),
        F.coalesce(F.col("discordant"), F.lit(0)).alias("discordant"),
        tau.alias("tau_b"))


def cochran_armitage_trend(
    df: DataFrame,
    bucket_col: str,
    flag_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Cochran-Armitage trend test per group — is a RATE drifting
    monotonically across ordered buckets (failure share by week,
    positive-label share by ingestion day)? chi² over the same table
    ignores the order and wastes its power on non-monotone wiggles;
    this weights each bucket by its value and asks specifically for a
    linear trend in proportions. ``flag_col`` is 0/1; buckets are
    scored by ``bucket_col``'s numeric value. Returns one row per
    group:

        (n, n_flag, n_buckets, slope_sign, z, p_value)

    with ``T = Σ w_i·r_i`` over per-bucket flag counts r_i and scores
    w_i = bucket value,

        z = (T − p̄·Σ w_i·n_i)
            / sqrt(p̄(1−p̄)·(Σ w_i²·n_i − (Σ w_i·n_i)²/N))

    (the standard conditional-variance form; Armitage 1955),
    ``slope_sign`` ∈ {−1, 0, 1} the direction, and ``p_value`` the
    :func:`normal_two_sided_p` polynomial tail. Degenerate groups
    (all-flag or no-flag p̄(1−p̄)=0, or a single bucket making the
    variance 0) return NULL z/p. NULL buckets/flags are excluded.

    Scale shape: ONE (group, bucket) groupBy collapses the corpus to
    bucket-cardinality count rows; the statistic is one group fold
    over exact integer counts and double scores. Float contract:
    z/p round 9dp (+0.0)."""
    per_b = trend_bucket_counts(df, bucket_col, flag_col,
                                group_cols=group_cols)
    return cochran_armitage_from_bucket_counts(per_b,
                                               group_cols=group_cols)


def trend_bucket_counts(
    df: DataFrame,
    bucket_col: str,
    flag_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Cochran-Armitage sufficient statistics: per-(group, bucket
    score) rows ``(_w, _n, _rf)`` — total and flagged counts per
    scored bucket. ADDITIVE (SUM-merge exactly; a bucket's rows may
    split across batches), so the trend test gets the same day-2 seam
    as CUSUM: persist per batch via
    :func:`~..streaming.incremental_trend_state`, finish with
    :func:`cochran_armitage_from_bucket_counts` (r15 verdict task
    6)."""
    gc = list(group_cols)
    if any(c in ("n", "n_flag", "n_buckets", "slope_sign", "z",
                 "p_value") for c in gc):
        raise ValueError("group_cols collide with the output columns")
    w = F.col(bucket_col).cast("double")
    r = F.col(flag_col).cast("int")
    base = (df.select(*gc, w.alias("_w"), r.alias("_r"))
            .filter(F.col("_w").isNotNull() & ~F.isnan("_w")
                    & F.col("_r").isin(0, 1)))
    return (base.groupBy(*gc, "_w")
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.sum("_r").alias("_rf")))


def cochran_armitage_from_bucket_counts(
    per_b: DataFrame,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Finish :func:`cochran_armitage_trend` from
    :func:`trend_bucket_counts`-shaped rows; re-collapses per (group,
    _w) first so SUM-mergeable state dirs feed in directly."""
    gc = list(group_cols)
    per_b = (per_b.groupBy(*gc, "_w")
             .agg(F.sum("_n").alias("_n"), F.sum("_rf").alias("_rf")))
    agg = (per_b.groupBy(*gc)
           .agg(F.sum("_n").alias("_N"),
                F.sum("_rf").alias("_R"),
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum(F.col("_w") * F.col("_rf")).alias("_T"),
                F.sum(F.col("_w") * F.col("_n")).alias("_sw"),
                F.sum(F.col("_w") * F.col("_w") * F.col("_n"))
                .alias("_sww")))
    N, R = F.col("_N"), F.col("_R")
    pbar = R / N
    num = F.col("_T") - pbar * F.col("_sw")
    var = (pbar * (1 - pbar)
           * (F.col("_sww") - F.col("_sw") * F.col("_sw") / N))
    z = F.when(var > 0, num / F.sqrt(var))
    return agg.select(
        *gc, N.alias("n"), R.alias("n_flag"), "n_buckets",
        F.when(z.isNotNull(), F.signum(num).cast("int"))
        .alias("slope_sign"),
        z.alias("z"),
        F.when(z.isNotNull(), normal_two_sided_p(z)).alias("p_value"))


def contingency_effects(
    df: DataFrame,
    row_col: str,
    col_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Contingency-table EFFECT analysis per group — the follow-up
    question after :func:`chi2_categorical` says "these two
    categoricals are associated": HOW strongly, and WHICH cells drive
    it. One row per observed (row, col) cell:

        (row_cat, col_cat, n, expected, std_residual, cramers_v)

    ``expected`` is the independence expectation row_tot·col_tot/N;
    ``std_residual`` the ADJUSTED standardized residual
    (n − e)/sqrt(e·(1 − row_tot/N)·(1 − col_tot/N)) — Agresti's form,
    asymptotically N(0,1) under independence, so |r| > 2–3 names the
    driving cells (the plain Pearson residual under-disperses in
    small tables and over-flags big margins); ``cramers_v`` the
    table-level effect size sqrt(chi²/(N·min(r−1, c−1))) in [0, 1],
    repeated on every cell row (NULL for degenerate 1×c / r×1
    tables). Use it in drift triage: chi² fires → rank cells by
    |std_residual| to find WHERE the mix shifted; V says whether the
    association is worth acting on at all (χ² grows linearly with N —
    at corpus scale everything is "significant"; V is N-free).

    NULL categories fold to '__null__' (the chi2_categorical
    convention — a null-rate shift IS a mix shift).

    Scale shape: ONE (group, row, col) groupBy collapses the corpus
    to cell-cardinality rows; margins/N/chi² are group-partitioned
    windows over that cell frame and the r×c distinct counts one
    cells-frame aggregate joined back broadcast — nothing after the
    collapse touches corpus-sized data. Float contract: expected /
    std_residual / cramers_v are double arithmetic over exact integer
    counts — round 9dp (+0.0) cross-engine."""
    gc = list(group_cols)
    out_cols = ("row_cat", "col_cat", "n", "expected", "std_residual",
                "cramers_v")
    if any(c in out_cols for c in gc):
        raise ValueError("group_cols collide with the output columns")
    rnorm = F.coalesce(F.col(row_col).cast("string"), F.lit("__null__"))
    cnorm = F.coalesce(F.col(col_col).cast("string"), F.lit("__null__"))
    cells = (df.groupBy(*gc, rnorm.alias("row_cat"),
                        cnorm.alias("col_cat"))
             .agg(F.count(F.lit(1)).alias("n")))
    wg = Window.partitionBy(*gc) if gc else Window.partitionBy()
    wr = Window.partitionBy(*gc, "row_cat")
    wc = Window.partitionBy(*gc, "col_cat")
    withm = (cells
             .withColumn("_rt", F.sum("n").over(wr))
             .withColumn("_ct", F.sum("n").over(wc))
             .withColumn("_N", F.sum("n").over(wg)))
    e = F.col("_rt") * F.col("_ct") / F.col("_N")
    withm = withm.withColumn("_e", e).withColumn(
        "_chi2", F.sum(F.pow(F.col("n") - F.col("_e"), 2)
                       / F.col("_e")).over(wg))
    dims = (cells.groupBy(*gc)
            .agg(F.countDistinct("row_cat").alias("_r"),
                 F.countDistinct("col_cat").alias("_c")))
    j = (withm.join(F.broadcast(dims), gc) if gc
         else withm.crossJoin(F.broadcast(dims)))
    mindim = F.least(F.col("_r"), F.col("_c")) - 1
    denom = F.sqrt(F.col("_e") * (1 - F.col("_rt") / F.col("_N"))
                   * (1 - F.col("_ct") / F.col("_N")))
    return j.select(
        *gc, "row_cat", "col_cat", "n",
        F.col("_e").alias("expected"),
        F.when(denom > 0, (F.col("n") - F.col("_e")) / denom)
        .alias("std_residual"),
        F.when(mindim > 0,
               F.sqrt(F.col("_chi2") / (F.col("_N") * mindim)))
        .alias("cramers_v"))


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Spearman rank correlation per group — Pearson over AVERAGE
    ranks (the exact tie-handling definition, not the 6Σd²/n³ shortcut
    that breaks on ties), completing the rank trio with
    :func:`kendall_tau` (tau counts pair inversions, rho measures
    rank-linear association; rho reacts faster to a few large rank
    displacements). Returns one row per group:

        (n_points, rho)

    NULL rho when either variable is constant (zero rank variance).
    NULL x/y rows are excluded.

    Scale shape: two value-collapse groupBys (distinct x, distinct y)
    + cumulative windows assign average ranks without per-row
    row_numbers at corpus scale... for grouped bucket series (the
    intended domain, like theilsen/tau) the frames are bucket-
    cardinality throughout; the final Pearson is one group fold.
    Float contract: rho rounds 9dp (+0.0)."""
    gc = list(group_cols)
    if any(c in ("n_points", "rho") for c in gc):
        raise ValueError("group_cols collide with the output columns")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    pts = (df.select(*gc, x.alias("_x"), y.alias("_y"))
           .filter(F.col("_x").isNotNull() & ~F.isnan("_x")
                   & F.col("_y").isNotNull() & ~F.isnan("_y")))

    def avg_ranks(frame: DataFrame, col: str, out: str) -> DataFrame:
        per_v = (frame.groupBy(*gc, col)
                 .agg(F.count(F.lit(1)).alias("_t")))
        w_prev = (Window.partitionBy(*gc).orderBy(col)
                  .rowsBetween(Window.unboundedPreceding, -1))
        return per_v.withColumn(
            out,
            F.coalesce(F.sum("_t").over(w_prev), F.lit(0))
            .cast("double") + (F.col("_t") + 1) / 2.0).drop("_t")

    rx = avg_ranks(pts, "_x", "_rx")
    ry = avg_ranks(pts, "_y", "_ry")
    ranked = pts.join(rx, gc + ["_x"]).join(ry, gc + ["_y"])
    agg = (ranked.groupBy(*gc)
           .agg(F.count(F.lit(1)).alias("n_points"),
                F.sum("_rx").alias("_sx"), F.sum("_ry").alias("_sy"),
                F.sum(F.col("_rx") * F.col("_ry")).alias("_sxy"),
                F.sum(F.col("_rx") * F.col("_rx")).alias("_sxx"),
                F.sum(F.col("_ry") * F.col("_ry")).alias("_syy")))
    n = F.col("n_points").cast("double")
    cov = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    vx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    vy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return agg.select(*gc, "n_points", rho.alias("rho"))
