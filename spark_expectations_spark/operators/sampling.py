"""Deterministic sampling / splitting for training-data pipelines.

``df.sample``/``sampleBy`` are seed-based but partition-order dependent —
re-running on re-partitioned 100 TB data silently changes the sample.
These operators derive membership from a HASH OF THE KEY, so a row's
split is a pure function of its content: stable across runs, cluster
sizes, and engines (md5 is the portable choice — identical bytes in
Spark, DuckDB, Python — which also makes the splits oracle-checkable).

Everything is a narrow projection + filter: no shuffle, fully
pushdown-friendly, and the same row never lands in two splits.

Two module-wide contracts worth knowing:

* **Shared coin.** All samplers draw from the SAME md5(key) stream, so
  two unsalted samplers composed on one key column are perfectly
  correlated, not independent — ``deterministic_sample(0.5)`` of a 50%
  ``with_split`` train half keeps everything or nothing. That nesting
  is often exactly what you want (stable sub-samples of a split);
  when you need independence, pass a distinct ``salt`` to each
  operation (the stratified sampler already salts by stratum for the
  same reason).
* **NULL keys.** ``with_split`` sends NULL-key rows to the LAST label
  (every when-branch is NULL, the otherwise wins),
  ``deterministic_sample`` DROPS them (NULL < n is never true), and
  the quota samplers rank them FIRST (sentinel bucket, matching the
  reference window's NULLS FIRST). Filter NULL keys up front if any
  of these defaults is wrong for the pipeline.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _cluster_key

#: buckets = first 4 md5 hex chars → 0..65535; plenty of resolution for
#: pipeline split ratios while keeping the arithmetic in 32-bit range
_BUCKETS = 65536


def _bucket(key: Column, salt: str = "", hex_chars: int = 4) -> Column:
    """md5-hex prefix of the (optionally salted) key as a long — THE
    hashing definition every sampler in this module draws from.
    ``hex_chars=4`` gives the 0..65535 bucket stream; callers needing
    more entropy (e.g. mod-k folds with negligible bias) widen it
    rather than re-rolling their own conv chain."""
    k = key.cast("string") if not salt \
        else F.concat(F.lit(salt + "|"), key.cast("string"))
    return F.conv(F.substring(F.md5(k), 1, hex_chars), 16, 10).cast("long")


def _release_on_gc(result: DataFrame, persisted: DataFrame) -> DataFrame:
    """Tie the persisted input's lifetime to ``result`` and hand the
    caller an explicit release handle.

    The two-phase quota samplers persist their bucketed input so ONE
    source scan feeds the eager phase-1 job and both lazily-consumed
    kept branches (r5 verdict: an unpersisted input was evaluated 3x —
    real money when the input is a derived pipeline, not a raw scan).
    The cache must outlive the function (the branches execute when the
    CALLER runs them), so it is pinned to the returned DataFrame via a
    strong attribute reference plus a GC finalizer backstop.

    LIFETIME CONTRACT (ADVICE r6): only the RETURNED object carries the
    pin — a derived frame from the common ``op(df).select(...)`` shape
    does not, so if the returned object is dropped before the action
    runs, GC may release the cache early and the single-scan benefit
    silently reverts to multi-scan (results stay correct; derived
    frames just recompute). Callers that derive-and-discard should
    either keep the returned DataFrame alive through the action, call
    :func:`release_input_cache` when done (deterministic), or pass
    ``persist_input=False`` when the input is a cheap columnar scan."""
    import weakref

    def _release(p=persisted):
        try:
            p.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release

    # strong ref: the cache survives at least as long as the returned
    # frame; finalizer: released (best-effort) when it is collected
    result._se_input_cache = persisted
    weakref.finalize(result, _release)
    return result


def release_input_cache(df: DataFrame) -> bool:
    """Deterministically unpersist the input cache a quota sampler
    (:func:`mixture_resample` / :func:`token_budget_sample`) pinned to
    its returned DataFrame — the explicit alternative to waiting for
    garbage collection. Safe to call on any DataFrame (returns False
    when no cache is pinned) and idempotent."""
    persisted = getattr(df, "_se_input_cache", None)
    if persisted is None:
        return False
    try:
        persisted.unpersist()
    except Exception:
        return False
    df._se_input_cache = None
    return True


def with_split(
    df: DataFrame,
    key_col: str,
    splits: Mapping[str, float],
    *,
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Assign each row a split label by hashed key.

    ``splits`` maps label → weight (normalized internally). Rows with
    equal keys always get equal labels — safe for grouped entities
    (all of a user's documents stay in one split when keyed by user).
    NULL keys land in the LAST label (documented module contract);
    ``salt`` decorrelates this split from other hash-keyed selections
    on the same key.
    """
    total = float(sum(splits.values()))
    if total <= 0:
        raise ValueError("split weights must sum > 0")
    b = _bucket(F.col(key_col), salt)
    expr = None
    acc = 0.0
    labels = list(splits.items())
    for label, w in labels[:-1]:
        acc += w / total
        cond = b < int(acc * _BUCKETS)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out, expr)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    splits: Mapping[str, float],
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Near-duplicate-aware split assignment: rows connected by ANY
    chain of ``pairs`` edges land in the SAME split — the leakage
    guard a training pipeline needs BEFORE trusting held-out numbers
    (a near-dup of a training doc sitting in eval inflates every
    metric it touches, and a naive per-id hash split scatters dup
    clusters across the boundary with probability ~1−Σwᵢ²).

    Pairs come from any detector in ``operators.dedup`` (fingerprint
    equality, MinHash/LSH, n-gram Jaccard, embedding cosine).
    Mechanism: transitive closure via
    :func:`~.graph.connected_components` (star contraction —
    pair-list-sized, NOT corpus-sized), then :func:`with_split` keyed
    by the component representative (min member id; singletons key by
    their own id), inheriting its md5-coin determinism, weight
    normalization, and NULL-key contract. Verify with
    :func:`split_leakage_report` — this construction yields exactly
    zero leaked pairs.

    Scale shape: star contraction over edges (O(log² n) rounds of
    join + min-groupBy with localCheckpoint lineage cuts, whatever the
    chain length), one id-keyed left join against the corpus (labels
    side is dup-cluster-member sized; AQE broadcasts when small), and
    the split itself is a pure projection — no extra shuffle beyond
    the label join."""
    keyed = _cluster_key(df, pairs, id_col, "__grp", id_a=id_a, id_b=id_b)
    return with_split(keyed, "__grp", splits, out=out,
                      salt=salt).drop("__grp")


def leakage_safe_kfold(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    k: int,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out: str = "fold",
    salt: str = "",
) -> DataFrame:
    """Near-duplicate-aware k-fold assignment — the cross-validation
    twin of :func:`leakage_safe_split`: rows connected by any chain of
    ``pairs`` edges share a fold, so no fold ever validates on a
    near-dup of another fold's training doc (the inflation that makes
    naive CV numbers lie is exactly proportional to cross-fold dup
    pairs, and this construction yields zero). Same mechanism:
    transitive closure via star contraction, then
    :func:`with_kfold` keyed by the component representative
    (singletons key by their own id) — inheriting the md5-coin
    determinism and NULL-key contract. Pairs-list-sized closure + one
    id-keyed left join; the fold itself is a projection."""
    keyed = _cluster_key(df, pairs, id_col, "__grp", id_a=id_a, id_b=id_b)
    return with_kfold(keyed, "__grp", k, out=out,
                      salt=salt).drop("__grp")


def split_leakage_report(
    splits_df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    split_col: str = "split",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """ONE row ``(n_pairs, n_leaked, leak_rate)``: how many known
    near-dup pairs straddle a split boundary — the eval-contamination
    check to run before trusting any split, and the acceptance test
    for :func:`leakage_safe_split` (which yields 0 by construction).
    Pairs whose side is missing from ``splits_df`` don't count as
    leaked (inner joins — an absent row contaminates nothing);
    ``leak_rate`` is NULL when no pairs survive the joins.

    Scale shape: two id-keyed joins of the pair list against the
    (id, split) projection plus one scalar aggregate — pair-list
    sized, never corpus²."""
    s = splits_df.select(F.col(id_col).alias("__sid"),
                         F.col(split_col).alias("__sp"))
    j = (pairs
         .join(s.withColumnRenamed("__sid", "__ja")
                .withColumnRenamed("__sp", "__sa"),
               F.col(id_a) == F.col("__ja"))
         .join(s.withColumnRenamed("__sid", "__jb")
                .withColumnRenamed("__sp", "__sb"),
               F.col(id_b) == F.col("__jb")))
    leaked = F.sum(
        F.when(F.col("__sa") != F.col("__sb"), 1).otherwise(0))
    return j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        leaked.cast("bigint").alias("n_leaked"),
        (leaked / F.count(F.lit(1))).alias("leak_rate"))


def with_kfold(
    df: DataFrame,
    key_col: str,
    k: int,
    *,
    strata_col: Optional[str] = None,
    out: str = "fold",
    salt: str = "",
) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation: fold =
    ``md5(salt|stratum|key) mod k`` — a pure function of the key, so
    folds survive re-partitioning, cluster changes, and engines (the
    same md5-stream contract as :func:`with_split`), and rows sharing a
    key always share a fold (group-safe CV when keyed by entity).

    ``strata_col`` salts the hash with the stratum value so each
    stratum's rows spread ~uniformly over all k folds independently —
    the stratified-CV shape (without it, fold sizes are still ~uniform
    overall but a small stratum may land unevenly). A NULL STRATUM is
    its own stratum (coalesced to a sentinel inside the hash — rows
    with valid keys must never lose their fold to a missing label).
    NULL KEYS get fold NULL (NULL md5 ⇒ NULL bucket, the
    :func:`with_split` hash contract) — filter or coalesce them
    explicitly rather than silently biasing a fold. Zero shuffle — a
    scan-fused projection; 8 hex chars of md5 (32 bits) keep the mod-k
    bias negligible for any practical k.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    parts = [F.lit(salt)]
    if strata_col is not None:
        # \x01 sentinel: NULL stratum forms its own stratum instead of
        # NULLing the whole hash (only the KEY may null the fold)
        parts.append(F.coalesce(F.col(strata_col).cast("string"),
                                F.lit("\x01")))
    parts.append(F.col(key_col).cast("string"))
    # concat (not concat_ws): a NULL key must yield a NULL hash/fold,
    # and concat_ws would silently skip NULLs and hash the rest
    joined = F.concat(*[p if i == 0 else F.concat(F.lit("|"), p)
                        for i, p in enumerate(parts)])
    b32 = _bucket(joined, hex_chars=8)
    return df.withColumn(out, F.pmod(b32, F.lit(int(k))).cast("int"))


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    *,
    salt: str = "",
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by hashed key — reproducible
    regardless of partitioning, and a plain filter (pushdown applies).
    Unsalted samples NEST (a 0.1 sample is a subset of a 0.5 sample);
    pass a ``salt`` when this sample must be independent of other
    hash-keyed selections on the same key (module-docstring contract).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(
        _bucket(F.col(key_col), salt) < int(fraction * _BUCKETS))


def stratified_deterministic_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    *,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (the hash-stable version of
    ``sampleBy``): each stratum keeps its own fraction. Salting the hash
    with the stratum decorrelates the per-stratum samples."""
    b = _bucket(F.concat(F.col(strata_col).cast("string"),
                         F.lit("|"), F.col(key_col).cast("string")))
    expr = F.lit(int(default_fraction * _BUCKETS))
    for stratum, frac in fractions.items():
        expr = F.when(F.col(strata_col) == stratum,
                      F.lit(int(frac * _BUCKETS))).otherwise(expr)
    return df.filter(b < expr)


def weighted_deterministic_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    *,
    expected_fraction: float,
    max_weight: float,
    mean_weight: Optional[float] = None,
) -> DataFrame:
    """Weighted Bernoulli sampling, deterministically: row inclusion
    probability ∝ its weight (quality score, length, upsample factor),
    with the coin derived from md5(key) — so re-runs, repartitions, and
    engines agree on the exact kept set (oracle-checkable like the other
    samplers here).

    Keep iff u(key) < expected_fraction · weight / mean_weight, with
    u(key) uniform on [0,1) from the first 12 md5 hex chars. The mean
    weight comes from a 1-row aggregate broadcast back (scalar-subquery
    shape), or — for bit-exact cross-engine/cross-run membership at the
    threshold boundary — pass ``mean_weight`` explicitly (summation
    order can move a computed mean by 1 ulp). ``max_weight`` is the
    caller's promise used to reason about saturation above 1 (those
    rows are always kept and the realized fraction drifts below
    target).

    A filter + one tiny broadcast — no shuffle of data rows, pushdown
    still applies to everything upstream of the weight expression.
    """
    if not 0.0 < expected_fraction <= 1.0:
        raise ValueError("expected_fraction must be in (0, 1]")
    if max_weight <= 0:
        raise ValueError("max_weight must be positive")
    u = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10)
        .cast("double") / float(16 ** 12)
    )
    if mean_weight is not None:
        thresh = expected_fraction * F.col(weight_col) / float(mean_weight)
        return df.filter(u < thresh)
    mean_w = df.agg(F.avg(weight_col).alias("_mw"))
    thresh = expected_fraction * F.col(weight_col) / F.col("_mw")
    return (
        df.crossJoin(F.broadcast(mean_w))
        .filter(u < thresh)
        .drop("_mw")
    )


def mixture_resample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    weights_ppm: Mapping[str, int],
    *,
    persist_input: bool = True,
) -> DataFrame:
    """Domain-mixture resampling: down-sample each source so the output
    matches target mixture proportions at the LARGEST total the corpus
    can support — the "mix web/books/code at 50/30/20" step of training-
    data assembly.

    With integer weights ``weights_ppm`` (parts-per-million; need not
    sum to 1M — only ratios matter, and they are gcd-reduced internally)
    and per-source counts n_s, the binding source b minimizes n_s/w_s;
    every source then keeps

        quota_s = floor(n_b * w_s / w_b)

    computed in INTEGER arithmetic split as
    ``(n_b div w_b)·w_s + ((n_b mod w_b)·w_s) div w_b`` — exact and
    overflow-free for any corpus size as long as w_s·w_b < 2^63 after
    gcd reduction (guarded up front; the naive ``n_b·w_s`` product
    would overflow int64 near 1e12 rows × 1e9-scale weights). The kept
    set is bit-identical across engines — no float T·w rounding at
    quota boundaries. Within a source, kept rows are the quota_s with
    the smallest md5 bucket of the key (ties → key): deterministic,
    partition-invariant, and nested — raising a weight only ever ADDS
    rows from that source. Sources absent from ``weights_ppm`` are
    dropped (weight 0).

    Scale shape — two-phase bucket quota selection, no per-source
    window over the corpus:

    1. count rows per (source, md5-bucket) — one groupBy whose output
       is at most |sources|·65536 rows (dims, not corpus); a running
       sum over that frame locates each source's BOUNDARY bucket (the
       one where the quota falls) and how many rows of it survive.
    2. rows in buckets strictly below the boundary are kept by a plain
       broadcast-join filter (map-only, no shuffle, no sort); ONLY the
       boundary bucket's rows — ~n_s/65536 of each source — go through
       a row_number window to pick the smallest keys for the remaining
       slots.

    The largest sorted partition is therefore corpus/65536-sized
    regardless of source skew (the old single window put a whole
    source's rows in ONE task — terabytes at 100 TB). Phase 1 runs
    EAGERLY at call time (one job; its per-source plan — one row per
    source — is collected to the driver and broadcast back). With
    ``persist_input`` (default), the bucketed input is persisted
    MEMORY_AND_DISK so that ONE evaluation of ``df`` feeds the phase-1
    job and both kept branches — without it the input would be
    computed 3x, a real cost when ``df`` is a derived pipeline rather
    than a raw scan. The cache is pinned to the RETURNED DataFrame
    (keep it alive through the action — a derived ``.select(...)``
    alone does not pin it) and released via
    :func:`release_input_cache` or, best-effort, when the returned
    object is garbage-collected; pass ``persist_input=False`` when
    ``df`` is a cheap columnar scan or already cached (re-scanning
    parquet beats spilling a 100 TB corpus to executor disk). NULL keys hash to a sentinel bucket that sorts
    first, preserving the reference window's NULLS FIRST ranking.
    """
    import math as _math

    if not weights_ppm:
        raise ValueError("weights_ppm must be non-empty")
    if any(w <= 0 for w in weights_ppm.values()):
        raise ValueError("weights must be positive (omit zero-weight sources)")
    wvals = [int(w) for w in weights_ppm.values()]
    g = 0
    for w in wvals:
        g = _math.gcd(g, w)
    weights = {s: int(w) // g for s, w in weights_ppm.items()}
    wmax = max(weights.values())
    if wmax * wmax >= 2 ** 63:
        raise ValueError(
            "weight ratios too large for exact int64 quota arithmetic "
            f"(max reduced weight {wmax}); rescale weights_ppm")
    spark = df.sparkSession
    from pyspark.sql.types import LongType as _Long
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST
    # weights frame keyed by the df's OWN source type (an int source
    # column must not crash against a hardcoded string schema).
    # local_frame, not createDataFrame: a literal relation spares every
    # consuming job a Python-RDD scan stage (r16, plans.local_frame)
    from .. import plans as _plans
    wdf = _plans.local_frame(
        spark, [(s, int(w)) for s, w in weights.items()],
        _ST([_SF(source_col, df.schema[source_col].dataType),
             _SF("__w", _Long())]))
    # NULL keys hash to bucket -1: they sorted FIRST in the reference
    # window (ASC NULLS FIRST), and a raw null bucket would fall out of
    # both phase-2 comparisons — silently under-filling the quota
    b = F.coalesce(_bucket(F.col(key_col)), F.lit(-1))
    dfb = df.withColumn("__b", b)
    if persist_input:
        from pyspark import StorageLevel
        dfb = dfb.persist(StorageLevel.MEMORY_AND_DISK)

    # phase 1 (dims-sized, ONE eager job): per-(source, bucket) counts
    # -> per-source boundary plan, collected to the driver (one row per
    # source — dims by the same contract as the weights mapping) and
    # broadcast back. The eager collect also materializes the persisted
    # input, so the kept branches below read the cache, not the source.
    bcounts = dfb.groupBy(source_col, "__b").agg(
        F.count(F.lit(1)).alias("__c"))
    counts = bcounts.groupBy(source_col).agg(F.sum("__c").alias("__n"))
    joined = counts.join(F.broadcast(wdf), source_col)
    binding = joined.select(
        F.min_by(
            F.struct(F.col("__n").alias("n_b"), F.col("__w").alias("w_b")),
            F.struct((F.col("__n") / F.col("__w")).alias("r"),
                     F.col(source_col)),
        ).alias("__bind")
    ).select("__bind.n_b", "__bind.w_b")
    quotas = (
        joined.crossJoin(F.broadcast(binding))
        .select(source_col,
                F.expr("(n_b div w_b) * __w + ((n_b % w_b) * __w) div w_b")
                .alias("__quota"))
    )
    wcum = (Window.partitionBy(source_col).orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1))
    cum = (bcounts.withColumn(
        "__before", F.coalesce(F.sum("__c").over(wcum), F.lit(0)))
        .join(quotas, source_col))
    # boundary bucket = first whose inclusive cumulative count exceeds
    # the quota; buckets before it are wholly kept, after it wholly
    # dropped, and __rem rows of it survive (smallest keys first)
    bdry = (cum.filter(F.col("__before") + F.col("__c") > F.col("__quota"))
            .groupBy(source_col)
            .agg(F.min_by(F.struct("__b", "__before"), "__b").alias("__t"))
            .select(source_col, F.col("__t.__b").alias("__tb"),
                    F.col("__t.__before").alias("__tbefore")))
    plan_rows = (quotas.join(bdry, source_col, "left")
                 .select(source_col,
                         F.coalesce("__tb", F.lit(_BUCKETS)).alias("__tb"),
                         F.greatest(
                             F.col("__quota")
                             - F.coalesce("__tbefore", F.lit(0)),
                             F.lit(0)).alias("__rem"))).collect()
    from pyspark.sql.types import LongType, StructField, StructType
    plan = _plans.local_frame(spark, plan_rows, StructType([
        StructField(source_col, df.schema[source_col].dataType),
        StructField("__tb", LongType()),
        StructField("__rem", LongType())]))

    # phase 2: whole buckets below the boundary — a broadcast-join
    # filter, zero shuffle; boundary-bucket rows — tiny window
    tagged = dfb.join(F.broadcast(plan), source_col)
    full = tagged.filter(F.col("__b") < F.col("__tb"))
    wb = Window.partitionBy(source_col).orderBy(F.col(key_col).asc())
    bnd = (tagged.filter(F.col("__b") == F.col("__tb"))
           .withColumn("__rn", F.row_number().over(wb))
           .filter(F.col("__rn") <= F.col("__rem"))
           .drop("__rn"))
    out = full.unionByName(bnd).drop("__b", "__tb", "__rem")
    return _release_on_gc(out, dfb) if persist_input else out


def sample_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    n: int,
) -> DataFrame:
    """Deterministic n-per-group sample: within each group, keep the n
    rows with the smallest md5-bucketed key (ties broken by the key
    itself). The hash ordering makes the pick a pure function of group
    membership — re-partitioning, engine, or insertion order never
    changes it, unlike ``Window.orderBy(rand(seed))``.

    The workhorse for balanced eval-set construction (n docs per
    language/source) and per-class caps before training. One shuffle
    (the group window); at 100 TB pre-aggregate nothing — the window's
    rank short-circuits row emission past n per group.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        _bucket(F.col(key_col)).asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def _quantile_agg(score_col: str, qs: Sequence[float], exact: bool,
                  relative_error: float) -> Column:
    """Shared quantile-threshold aggregate for percentile_gate /
    quantile_buckets / winsorize: ALL requested quantiles from ONE
    aggregation buffer (array-valued percentile), returned as an
    array<double> in ``qs`` order. ``exact=True`` = Spark's exact
    ``percentile`` (quantile_cont-interpolating; unbounded buffer on
    continuous scores), ``exact=False`` = ``approx_percentile``
    (Greenwald-Khanna, ~O(1/relative_error) state, picks actual data
    values)."""
    if relative_error <= 0:
        raise ValueError("relative_error must be positive")
    pct = F.lit(list(qs))
    if exact:
        return F.percentile(F.col(score_col), pct)
    return F.approx_percentile(
        F.col(score_col), pct, F.lit(max(100, int(1.0 / relative_error))))


def percentile_gate(
    df: DataFrame,
    group_col: str,
    score_col: str,
    *,
    q: float = 0.5,
    keep: str = "above",
    exact: bool = True,
    relative_error: float = 1e-4,
) -> DataFrame:
    """Per-group exact-percentile quality gate: keep rows whose
    ``score_col`` is at-or-above (``keep="above"``) / at-or-below
    (``"below"``) the group's ``q``-quantile — the "keep the best half
    per source" filter, with the threshold derived from the data
    instead of hand-tuned constants.

    ``exact=True`` (default) uses Spark's exact ``percentile``
    aggregate: interpolation matches DuckDB's ``quantile_cont``
    bit-for-bit on integer scores, which is what makes the gate exactly
    oracle-checkable — but its aggregation buffer holds one (value,
    count) pair per DISTINCT score per group, unbounded for continuous
    double scores. At 100 TB on continuous scores pass ``exact=False``:
    ``approx_percentile`` (Greenwald-Khanna, bounded
    ~O(1/relative_error) state per group) picks an actual data value
    within ``relative_error`` rank error — the gate keeps ~the same
    fraction, just not the bit-identical set.

    Scale shape: thresholds come from ONE groupBy; the thresholds frame
    has one row per GROUP — dims, not corpus — so the gate join is
    AQE-broadcast and the corpus side streams map-only.
    """
    if keep not in ("above", "below"):
        raise ValueError("keep must be 'above' or 'below'")
    thr = df.groupBy(group_col).agg(
        F.element_at(
            _quantile_agg(score_col, [q], exact, relative_error), 1)
        .alias("__thr")).withColumnRenamed(group_col, "__g")
    cond = (F.col(score_col) >= F.col("__thr") if keep == "above"
            else F.col(score_col) <= F.col("__thr"))
    # null-safe join: a NULL group forms its own threshold row and its
    # rows must be gated against it, not silently dropped
    return (df.join(thr, F.col(group_col).eqNullSafe(F.col("__g")))
            .filter(cond).drop("__g", "__thr"))


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    seed: int = 0,
    num_shards: int = 64,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic epoch permutation for training dataloaders: every
    row gets a (shard, position) address that is a pure function of
    (seed, key) — re-running on re-partitioned data, a different cluster
    or a different engine yields the SAME order, and each epoch's
    ``seed`` yields an independent permutation (``df.orderBy(rand())``
    gives neither). A loader streams shard files in any order and reads
    rows by position; resume-after-crash is a (shard, pos) bookmark.

    Scale shape: shard = md5 bucket of (seed, key) → ONE hash-partition
    shuffle; positions are a per-shard ``row_number`` over the same md5
    key, so no global sort and no single-partition window — each shard
    sorts independently (n/num_shards rows). Raise ``num_shards`` with
    the corpus to keep per-shard sorts task-sized.
    """
    key = F.md5(F.concat_ws(":", F.lit(str(seed)),
                            F.col(id_col).cast("string")))
    # 8 hex chars = 32 bits of shard entropy: num_shards is honest up to
    # ~4e9 (4 chars would silently cap it at 65536)
    d = df.withColumn("__k", key).withColumn(
        shard_col,
        F.pmod(F.conv(F.substring(F.col("__k"), 1, 8), 16, 10).cast("long"),
               F.lit(num_shards)))
    w = Window.partitionBy(shard_col).orderBy(F.col("__k"), F.col(id_col))
    return (d.withColumn(pos_col, F.row_number().over(w) - 1)
            .drop("__k"))


def interleave_sources(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict,
    *,
    seed: int = 0,
    out: str = "mix_pos",
    num_buckets: int = 256,
) -> DataFrame:
    """Deterministic weighted INTERLEAVE — the ordering half of domain
    mixing (:func:`mixture_resample` picks WHICH rows; this decides the
    READING ORDER so a loader consuming positions 0..n sees sources at
    their target rates throughout, instead of runs of one source):
    classic stride scheduling with a hashed virtual time,
    ``vtime = u / weight`` where ``u`` is the row's md5 fraction in
    (0, 1) — uniform per source, so a source with twice the weight
    lands twice as densely on the virtual axis, at every prefix.
    Returns ``df`` + a dense 0-based ``out`` position.

    Zero per-source windows (the skew trap a rank-per-source
    formulation would carry): the virtual time is a pure projection,
    and the global position comes from :func:`dense_global_index`'s
    two-phase bucket ranking — one hash shuffle, per-bucket sorts, no
    single-task sort anywhere. Deterministic in (seed, id, weights)
    and engine-portable (md5 arithmetic → fully value-oracle-checkable).
    Rows whose source is missing from ``weights`` raise at plan build
    (an unweighted source silently starving the mix is a config bug)."""
    if not weights:
        raise ValueError("weights must be non-empty")
    for s, w in weights.items():
        if not w or w <= 0:
            raise ValueError(f"weight for {s!r} must be > 0")
    u = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(str(seed)),
                          F.col(id_col).cast("string"))), 1, 12),
        16, 10).cast("double") + F.lit(1.0)) / F.lit(float(2 ** 48))
    w = None
    for s, wt in sorted(weights.items()):
        cond = F.col(source_col) == s
        w = F.when(cond, float(wt)) if w is None else \
            w.when(cond, float(wt))
    w = w.otherwise(F.raise_error(F.concat(
        F.lit("interleave_sources: no weight for source "),
        F.col(source_col))))
    d = df.withColumn("__vt", u / w)
    ranked = dense_global_index(d, ["__vt", id_col], out=out,
                                num_buckets=num_buckets)
    return ranked.drop("__vt")


def curriculum_order(
    df: DataFrame,
    id_col: str,
    score_col: str,
    *,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    seed: int = 0,
    num_shards: int = 64,
    exact: bool = True,
    relative_error: float = 1e-4,
    stage_col: str = "stage",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Curriculum dataloader addresses: every row gets ``(stage, shard,
    pos)`` where ``stage`` is its ascending quantile bucket of
    ``score_col`` (0 = easiest/lowest; boundary-to-upper rule) and
    ``(shard, pos)`` is a deterministic within-stage shuffle — the
    curriculum-learning layout (easy-first stages, decorrelated order
    inside each stage). A loader streams stages in order and shards
    within a stage in any order; a different ``seed`` reshuffles within
    stages without moving rows ACROSS stages.

    Pure composition of two proven pieces: :func:`quantile_buckets`
    thresholds (one 1-row aggregate, exact or approx tier) and
    :func:`epoch_shuffle`'s md5 addressing, with positions windowed per
    ``(stage, shard)`` — ONE hash shuffle, per-cell sorts of
    ~n/(stages·shards) rows, no global sort, engine-portable (fully
    value-oracle-checkable with integer scores + exact-binary qs)."""
    labels = [str(i) for i in range(len(qs) + 1)]
    d = quantile_buckets(
        df.withColumn("__cg", F.lit(1)), "__cg", score_col,
        qs=tuple(qs), labels=tuple(labels), out="__sl",
        exact=exact, relative_error=relative_error)
    d = (d.withColumn(stage_col, F.col("__sl").cast("int"))
         .drop("__cg", "__sl"))
    key = F.md5(F.concat_ws(":", F.lit(str(seed)),
                            F.col(id_col).cast("string")))
    d = d.withColumn("__k", key).withColumn(
        shard_col,
        F.pmod(F.conv(F.substring("__k", 1, 8), 16, 10).cast("long"),
               F.lit(num_shards)))
    w = Window.partitionBy(stage_col, shard_col).orderBy(
        F.col("__k"), F.col(id_col))
    return (d.withColumn(pos_col, F.row_number().over(w) - 1)
            .drop("__k"))


def dense_global_index(
    df: DataFrame,
    key_cols: Sequence[str],
    *,
    out: str = "global_id",
    num_buckets: int = 256,
) -> DataFrame:
    """Contiguous 0-based global ids in ``key_cols`` order WITHOUT a
    global single-task sort — the scalable replacement for
    ``row_number() OVER (ORDER BY key)`` (whose empty partition spec
    funnels the whole corpus through one task) when a pipeline needs
    dense ordinal ids (shard addressing, matrix row indices,
    resumable-loader bookmarks; ``monotonically_increasing_id`` is
    neither dense nor order-respecting).

    Two-phase bucket trick (the mixture_resample machinery generalized
    to ranking): approx-percentile thresholds of the FIRST key column
    split the corpus into ~equal ``num_buckets`` monotone-in-key
    buckets (threshold precision only affects balance — the final rank
    is exact regardless); one small agg counts rows per bucket and a
    driver-side cumulative sum becomes a broadcast offset join; ids are
    ``offset + row_number within bucket − 1``, one hash shuffle on the
    bucket key and per-bucket sorts of ~n/num_buckets rows. Raise
    ``num_buckets`` with the corpus to keep sorts task-sized.

    The id is the exact global rank — engine-independent and fully
    value-oracle-checkable — PROVIDED the key tuple is unique (ties
    make rank assignment within the tie arbitrary; add a tiebreaker
    column). The first key column must be numeric/timestamp (percentile
    thresholds); NULL first-keys sort FIRST (Spark ASC semantics —
    mirror with NULLS FIRST in an oracle)."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    lead = F.col(key_cols[0])
    qs = [i / num_buckets for i in range(1, num_buckets)]
    thresholds = df.select(
        F.percentile_approx(lead, qs, 10_000).alias("t")).first()["t"]
    seen = []
    dedup = set()
    for t in (thresholds or []):
        if t is None or t in dedup:    # constant/low-cardinality keys
            continue
        dedup.add(t)
        seen.append(t)
    # bucket = Σ (lead > tᵢ) over the deduped thresholds. Built as ONE
    # SQL string when the thresholds are plain ints/floats: the
    # previous per-threshold Column loop issued ~6 py4j round trips
    # per threshold (~1500 for the default 256 buckets ≈ seconds of
    # pure driver chatter per call — r16 cProfile of docs_fold_pack:
    # 13,450 round trips / 3.1 s inside this function). The SQL form
    # is the SAME codegen indicator-sum; a float's repr() round-trips
    # through Spark's decimal/exponent literal parsing to the
    # identical double. Non-numeric lead keys (timestamps) keep the
    # Column loop.
    def _num_sql(v):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        if isinstance(v, int):
            return f"{v}L"
        import math
        return f"CAST({v!r} AS DOUBLE)" if math.isfinite(v) else None
    lead_sql = "`" + key_cols[0].replace("`", "``") + "`"
    parts = [_num_sql(t) for t in seen]
    if not seen:
        bucket = F.lit(0)
    elif all(p is not None for p in parts):
        bucket = F.expr(" + ".join(
            f"CAST(({lead_sql} > {p}) AS INT)" for p in parts))
    else:
        bucket = F.lit(0)
        for t in seen:
            bucket = bucket + (lead > F.lit(t)).cast("int")
    # NULL lead keys: (NULL > t) folds to 0 via cast-sum? It folds to
    # NULL — pin them to bucket 0 explicitly (they sort first in ASC)
    d = df.withColumn("__b", F.when(lead.isNull(), 0).otherwise(bucket))
    counts = {r["__b"]: r["c"] for r in
              d.groupBy("__b").agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    # offset lookup as ONE map literal (int keys/values by
    # construction), not 2·buckets F.lit round trips
    off = F.expr(
        "element_at(map(" + ", ".join(
            f"{int(b)}, {int(o)}L" for b, o in offsets.items())
        + "), __b)")
    w = Window.partitionBy("__b").orderBy(
        *[F.col(c).asc() for c in key_cols])
    return (d.withColumn(out, (off + F.row_number().over(w) - 1)
                         .cast("long"))
            .drop("__b"))


def quantile_buckets(
    df: DataFrame,
    group_col: str,
    score_col: str,
    *,
    qs: Sequence[float] = (0.25, 0.75),
    labels: Sequence[str] = ("tail", "middle", "head"),
    out: str = "bucket",
    exact: bool = True,
    relative_error: float = 1e-4,
    persist_input: bool = False,
) -> DataFrame:
    """Per-group quantile bucketing — the CCNet recipe (Wenzek et al.
    2019, arXiv:1911.00359): split each language's documents into
    head/middle/tail by LM-score quantiles, so downstream sampling can
    prefer the head without a hand-tuned absolute threshold per group.

    ``len(labels) == len(qs) + 1``; a row lands in ``labels[i+1]`` when
    its score is at-or-above the group's ``qs[i]`` exact interpolated
    quantile (highest matching threshold wins), else ``labels[0]``.

    Scale shape: one groupBy computes ALL thresholds (one pass,
    map-side partials); the thresholds frame is group-cardinality —
    dims, not corpus — and is broadcast EXPLICITLY (r9: relying on AQE
    here let the tiny-SF planner broadcast the CORPUS side of the
    single-group case, the exact wrong side at 100 TB; the hint pins
    the dims-scale side by contract) so the corpus streams map-only,
    exactly like :func:`percentile_gate`.
    With ``exact=True`` (default), integer scores + exact-binary ``qs``
    (quarters, eighths) make the interpolation bit-identical to DuckDB's
    ``quantile_cont``, hence fully value-oracle-checkable — but the
    exact aggregate buffers every distinct score per group; for
    continuous double scores at 100 TB pass ``exact=False`` to use
    ``approx_percentile`` (bounded state, thresholds within
    ``relative_error`` rank error — bucket shares shift by at most
    that).
    """
    if len(labels) != len(qs) + 1:
        raise ValueError("need len(labels) == len(qs) + 1")
    if list(qs) != sorted(qs):
        raise ValueError("qs must be ascending")
    if persist_input:
        # ``df`` is consumed twice (the threshold aggregate, then the
        # bucket join); when it is a COMPUTED frame — e.g. CCNet's
        # LM-scored corpus — the whole scoring subtree would otherwise
        # run twice. A lazy persist suffices: the threshold broadcast
        # materializes first and populates the cache, the bucket join
        # then reads it. Leave False (default) when ``df`` is a plain
        # source scan — re-reading parquet is cheaper than caching it.
        # SESSION-lifetime cache (not release-on-gc): the common
        # ``quantile_buckets(df).select(...)`` shape drops the pinned
        # frame before the action runs, which released the cache
        # exactly when it was needed (r16, measured on semdedup's
        # identical shape). clearCache()/session stop releases it.
        from pyspark.storagelevel import StorageLevel
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    # one array-valued percentile: ALL thresholds from a single
    # aggregation buffer instead of len(qs) independent ones
    thr = (df.groupBy(group_col)
           .agg(_quantile_agg(score_col, qs, exact, relative_error)
                .alias("__qs"))
           .select(F.col(group_col).alias("__g"),
                   *[F.element_at("__qs", i + 1).alias(f"__q{i}")
                     for i in range(len(qs))]))
    col = F.lit(labels[0])
    for i in range(len(qs)):  # outermost when = highest threshold
        col = F.when(F.col(score_col) >= F.col(f"__q{i}"),
                     F.lit(labels[i + 1])).otherwise(col)
    # null-safe: NULL-group rows bucket against their own thresholds
    return (df.join(F.broadcast(thr),
                    F.col(group_col).eqNullSafe(F.col("__g")))
            .withColumn(out, col)
            .drop("__g", *[f"__q{i}" for i in range(len(qs))]))


def token_budget_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    budget: Optional[int] = None,
    *,
    budgets: Optional[Mapping[str, int]] = None,
    persist_input: bool = True,
) -> DataFrame:
    """Sample each group down to a TOKEN budget instead of a document
    count — "2B tokens of web, 500M of code" is how training mixtures
    are actually specified. Rows are taken in md5-bucket order of
    ``key_col`` (deterministic, partition/engine-invariant, nested under
    budget increases); a row is kept while the EXCLUSIVE running sum of
    ``weight_col`` over the already-kept rows is still below the
    group's budget, so every nonempty group with a positive budget
    yields at least one row and the kept set is a pure integer function
    of group membership. ``budget`` applies to every group; ``budgets``
    maps group -> budget (groups absent from the map are dropped).

    Weights must be NON-NEGATIVE (they are token counts); a negative
    weight would let the running sum dip back under budget after
    crossing it, which the bucketed evaluation below does not model.

    Scale shape — the same two-phase bucket selection as
    :func:`mixture_resample`: per-(group, md5-bucket) weight sums (at
    most |groups|·65536 rows — dims, not corpus) locate each group's
    BOUNDARY bucket; buckets strictly below it are kept by a broadcast-
    join filter (map-only, no sort), and only the boundary bucket's
    ~n/65536 rows run the exclusive-running-sum window (offset by the
    weight already spent in earlier buckets). No group ever funnels
    through a single task, so a group holding most of 100 TB no longer
    needs pre-filtering. Phase 1 runs EAGERLY at call time (one job;
    the per-group plan is driver-collected and broadcast back). With
    ``persist_input`` (default), the bucketed input is persisted
    MEMORY_AND_DISK so ONE evaluation of ``df`` feeds the phase-1 job
    and both kept branches; the cache is pinned to the RETURNED
    DataFrame (keep it alive through the action) and released via
    :func:`release_input_cache` or, best-effort, on garbage
    collection; pass ``persist_input=False`` for cheap or
    already-cached inputs. NULL keys bucket to a sentinel that sorts
    first (reference-window NULLS FIRST parity); a NULL GROUP is its
    own group under the scalar ``budget`` (the plan join is
    null-safe — r5 advice: a plain inner join silently dropped it).
    """
    if (budget is None) == (budgets is None):
        raise ValueError("exactly one of budget / budgets required")
    if budgets is not None:
        spark = df.sparkSession
        from pyspark.sql.types import LongType as _Long
        from pyspark.sql.types import StructField as _SF
        from pyspark.sql.types import StructType as _ST
        from .. import plans as _plans
        bdf = _plans.local_frame(
            spark, [(g, int(b)) for g, b in budgets.items()],
            _ST([_SF(group_col, df.schema[group_col].dataType),
                 _SF("__budget", _Long())]))
        df = df.join(F.broadcast(bdf), group_col)
        budget_col = F.col("__budget")
    else:
        budget_col = F.lit(int(budget))
    dfb = df.withColumn(
        "__b", F.coalesce(_bucket(F.col(key_col)), F.lit(-1)))
    if persist_input:
        from pyspark import StorageLevel
        dfb = dfb.persist(StorageLevel.MEMORY_AND_DISK)

    # phase 1 (dims-sized, ONE eager job): per-(group, bucket) weight
    # sums -> per-group boundary plan, driver-collected (one row per
    # group) and broadcast back; the eager job also materializes the
    # persisted input for the kept branches below
    bsums = dfb.groupBy(group_col, "__b").agg(
        F.sum(F.col(weight_col).cast("long")).alias("__bw"),
        F.first(budget_col).alias("__bud"))
    wcum = (Window.partitionBy(group_col).orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1))
    cum = bsums.withColumn(
        "__before", F.coalesce(F.sum("__bw").over(wcum), F.lit(0)))
    # boundary bucket = first whose inclusive cumulative weight reaches
    # the budget; earlier buckets are wholly kept (every exclusive
    # running sum there is < budget), later ones wholly dropped
    bdry = (cum.filter(F.col("__before") + F.col("__bw") >= F.col("__bud"))
            .groupBy(group_col)
            .agg(F.min_by(F.struct("__b", "__before"), "__b").alias("__t"))
            .select(group_col, F.col("__t.__b").alias("__tb"),
                    F.col("__t.__before").alias("__off")))
    groups = bsums.groupBy(group_col).agg(F.first("__bud").alias("__bud"))
    # null-safe left join: the NULL group's boundary row must attach to
    # its group row — a plain equi-join would leave it with the
    # "no boundary" default and keep the whole group (r5 advice)
    plan_rows = (groups.join(bdry.withColumnRenamed(group_col, "__g"),
                             F.col(group_col).eqNullSafe(F.col("__g")),
                             "left")
                 .select(group_col, "__bud",
                         F.coalesce("__tb", F.lit(_BUCKETS)).alias("__tb"),
                         F.coalesce("__off", F.lit(0)).alias("__off"))
                 ).collect()
    from pyspark.sql.types import LongType, StructField, StructType
    from .. import plans as _plans
    plan = _plans.local_frame(df.sparkSession, plan_rows, StructType([
        StructField(group_col, df.schema[group_col].dataType),
        StructField("__bud", LongType()),
        StructField("__tb", LongType()),
        StructField("__off", LongType())]))

    # phase 2: whole buckets below the boundary (no shuffle), then the
    # original exclusive-cumsum rule inside the boundary bucket only,
    # offset by the weight consumed before it. The plan join is
    # NULL-SAFE on a renamed key (the percentile_gate __g pattern):
    # under the scalar budget a NULL group has a plan row, and a plain
    # inner equi-join would silently drop all its rows (r5 advice).
    plan = plan.withColumnRenamed(group_col, "__g")
    tagged = (dfb.join(F.broadcast(plan),
                       F.col(group_col).eqNullSafe(F.col("__g")))
              .drop("__g"))
    full = tagged.filter(F.col("__b") < F.col("__tb"))
    wb = (Window.partitionBy(group_col).orderBy(F.col(key_col).asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    cum_excl = F.coalesce(
        F.sum(F.col(weight_col).cast("long")).over(wb), F.lit(0))
    bnd = (tagged.filter(F.col("__b") == F.col("__tb"))
           .withColumn("__cum", cum_excl + F.col("__off"))
           .filter(F.col("__cum") < F.col("__bud"))
           .drop("__cum"))
    drop_cols = ["__b", "__tb", "__off", "__bud"]
    if budgets is not None:
        drop_cols.append("__budget")
    out = full.unionByName(bnd).drop(*drop_cols)
    return _release_on_gc(out, dfb) if persist_input else out


def weighted_topk_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    group_cols: Sequence[str] = (),
    salt: str = "aes",
    rank_out: str = "sample_rank",
) -> DataFrame:
    """Exact-size-k weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, "A-ES"): each row draws a deterministic uniform
    ``u(key)`` and is ranked by ``ln(u)/w`` descending; the top k are a
    weighted sample without replacement — every row's inclusion
    probability is proportional to its weight among the remaining
    rows, the textbook reservoir semantics. The fixed-size complement
    to :func:`weighted_deterministic_sample`'s Bernoulli fraction:
    quota-exact corpus draws ("give me exactly 10k docs, quality-
    weighted") where a realized-fraction drift is unacceptable.

    Deterministic: u comes from md5(salt + key)'s first 12 hex chars
    (the module-standard shared coin), so re-runs, repartitions, and
    engines agree on the exact kept set. ``ln(u)/w`` replaces the
    paper's ``u^(1/w)`` — ln is monotone and w > 0, so the ORDER is
    identical with one libm call instead of two. A zero u (probability
    2^-48 per row) ranks -inf = never sampled, identically everywhere.
    Non-positive weights raise at execution time. Ties (impossible in
    practice with 48-bit uniforms) break by key.

    Scale shape: ungrouped, the plan is TakeOrderedAndProject — each
    partition keeps its local top-k and only k·partitions rows reach
    the driver-side merge, never a full sort; the final rank window
    runs on k rows. Grouped, ONE hash-partition window per group —
    rank early-exits at k per group (WindowGroupLimit pushes the
    limit below the sort at runtime). Nothing is corpus².
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        1, 12), 16, 10).cast("double") / float(16 ** 12))
    w = F.col(weight_col).cast("double")
    aes = F.when(w > 0, F.log(u) / w).otherwise(F.raise_error(F.concat(
        F.lit("weighted_topk_sample: non-positive weight for key "),
        F.col(key_col).cast("string"))))
    gc = list(group_cols)
    scored = df.withColumn("__aes", aes)
    order = [F.col("__aes").desc(), F.col(key_col).asc()]
    if gc:
        win = Window.partitionBy(*gc).orderBy(*order)
        return (scored
                .withColumn(rank_out, F.row_number().over(win))
                .filter(F.col(rank_out) <= k)
                .drop("__aes"))
    topk = scored.orderBy(*order).limit(k)
    win = Window.orderBy(*order)  # k rows only — single task is fine
    return (topk.withColumn(rank_out, F.row_number().over(win))
            .drop("__aes"))


def split_by_time(
    df: DataFrame,
    ts_col: str,
    boundary,
    *,
    embargo=0,
    out: str = "split",
) -> DataFrame:
    """Leakage-aware temporal split: 'train' strictly before
    ``boundary − embargo``, 'test' at-or-after ``boundary``, and the
    gap labeled 'embargo' (discarded by convention — it absorbs
    lookahead features/label windows that would otherwise leak across
    the cut; embargo=0 yields a plain two-way split). A pure map-side
    projection — zero shuffle. Works on any orderable ts type:
    the embargo lower bound ``boundary − embargo`` is computed DRIVER-
    side in Python, so numeric columns take a numeric embargo and
    timestamp columns take a ``datetime.timedelta`` (a column-side
    subtraction would be a type error for timestamp − int)."""
    t = F.col(ts_col)
    if embargo:
        lower = boundary - embargo
        col = (F.when(t >= F.lit(boundary), F.lit("test"))
               .when(t >= F.lit(lower), F.lit("embargo"))
               .otherwise(F.lit("train")))
    else:
        col = (F.when(t >= F.lit(boundary), F.lit("test"))
               .otherwise(F.lit("train")))
    return df.withColumn(out, col)


def temperature_resample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    *,
    alpha: float = 0.5,
    scale: int = 1000,
    persist_input: bool = True,
) -> DataFrame:
    """Temperature-based source resampling (the mT5/mC4 recipe,
    arXiv:2010.11934): output shares ∝ n_source^alpha, flattening the
    head so low-resource sources aren't drowned (alpha=1 keeps natural
    proportions, alpha→0 approaches uniform). Implemented as integer
    weights ``floor(scale·n^alpha)`` fed to :func:`mixture_resample`,
    which realizes the ratios at the largest feasible total with
    deterministic md5-ranked membership.

    Determinism note: with the default ``alpha=0.5`` the weight uses
    ``math.sqrt`` — correctly rounded by IEEE 754, so the integer
    weights (and hence the exact kept set) are reproducible across
    engines/platforms and the operator carries a full value oracle.
    Other alphas go through ``pow``, whose last-ulp behavior is libm-
    specific — fine in practice, but boundary documents at a quota edge
    may differ across platforms.

    Scale shape: ONE group-cardinality count collected to the driver
    (sources are dims), then mixture_resample's two-phase bucket
    selection (no per-source single-task window; the big weights this
    recipe produces are gcd-reduced and overflow-guarded there).
    """
    import math

    if alpha <= 0:
        raise ValueError("alpha must be positive")
    counts = {r["__s"]: r["__n"] for r in
              df.groupBy(F.col(source_col).alias("__s"))
                .agg(F.count(F.lit(1)).alias("__n")).collect()}
    powf = math.sqrt if alpha == 0.5 else (lambda n: float(n) ** alpha)
    weights = {s: max(1, math.floor(scale * powf(n)))
               for s, n in counts.items()}
    return mixture_resample(df, key_col, source_col, weights,
                            persist_input=persist_input)


def winsorize(
    df: DataFrame,
    group_col: str,
    score_col: str,
    *,
    lower: float = 0.05,
    upper: float = 0.95,
    out: Optional[str] = None,
    exact: bool = True,
    relative_error: float = 1e-4,
) -> DataFrame:
    """Per-group winsorization: clip ``score_col`` into the group's
    [``lower``, ``upper``] quantile fences — the outlier treatment that
    keeps rows (unlike :func:`percentile_gate`, which drops them):
    heavy-tailed quality/length/weight features get their tails pinned
    to the fence values so a handful of extreme documents can't
    dominate downstream weighted sampling or normalization.

    Returns ``df`` plus ``out`` (default ``{score_col}_winsorized``,
    double — quantile fences interpolate). NULL scores stay NULL (a
    missing score must not come out pinned to a fence — Spark's
    least/greatest would otherwise skip the NULL and fabricate the
    upper fence), and NULL groups keep their rows (null-safe fence
    join) with fences computed over the NULL group itself. Same
    exact/approx contract as :func:`percentile_gate`; the exact tier's
    interpolation matches DuckDB's ``quantile_cont`` bit-for-bit for
    INTEGER scores at exact-binary quantiles (quarters, eighths — what
    the catalog oracle uses); the 0.05/0.95 defaults are production
    fences, not oracle-parity ones (last-ulp rounding of (n-1)·q may
    differ across engines there).

    Scale shape: ONE groupBy computes both fences from a SINGLE
    array-percentile buffer (map-side partials, one row per group —
    dims), the clip join is AQE-broadcast, and the clip itself is
    codegen ``greatest``/``least`` — corpus streams map-only.
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    fences = (df.groupBy(group_col)
              .agg(_quantile_agg(score_col, [lower, upper], exact,
                                 relative_error).alias("__f"))
              .select(F.col(group_col).alias("__g"),
                      F.element_at("__f", 1).cast("double").alias("__lo"),
                      F.element_at("__f", 2).cast("double").alias("__hi")))
    clipped = F.when(
        F.col(score_col).isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.greatest(F.col("__lo"),
                   F.least(F.col("__hi"), F.col(score_col).cast("double"))))
    return (df.join(F.broadcast(fences),
                    F.col(group_col).eqNullSafe(F.col("__g")))
            .withColumn(out or f"{score_col}_winsorized", clipped)
            .drop("__g", "__lo", "__hi"))


def mad_outliers(
    df: DataFrame,
    group_col: str,
    score_col: str,
    *,
    k: float = 3.5,
    consistency: float = 1.4826,
    z_col: str = "robust_z",
    out: str = "is_outlier",
    exact: bool = True,
    relative_error: float = 1e-4,
) -> DataFrame:
    """Per-group robust outlier flag via the median/MAD rule (Iglewicz &
    Hoaglin): ``robust_z = (x − median) / (consistency · MAD)``, outlier
    when ``|robust_z| > k``. Unlike mean/stddev screens, a few extreme
    documents cannot inflate the scale estimate and mask themselves —
    the right default for heavy-tailed corpus features (doc length,
    quality scores, token counts). ``consistency=1.4826`` makes MAD a
    consistent σ estimator under normality; ``k=3.5`` is the
    conventional cut.

    Degenerate groups (MAD = 0, i.e. a majority of the group sits
    exactly at the median) keep ``z_col`` NULL and flag every score
    different from the median — the limit of the rule as MAD→0. NULL
    scores keep NULL flags; NULL groups are screened against their own
    median/MAD (null-safe joins throughout).

    Scale shape: TWO dims-sized quantile aggregates (median of scores,
    then median of |deviation| — the second needs the first, so two
    passes are inherent to MAD) + two AQE-broadcast joins; the corpus
    itself streams map-only. Same exact/approx contract as
    :func:`percentile_gate` — at 100 TB on continuous scores pass
    ``exact=False`` for bounded Greenwald-Khanna state.
    """
    med = (df.groupBy(group_col)
           .agg(F.element_at(
               _quantile_agg(score_col, [0.5], exact, relative_error), 1)
               .cast("double").alias("__med"))
           .withColumnRenamed(group_col, "__g"))
    with_med = (df.join(F.broadcast(med),
                        F.col(group_col).eqNullSafe(F.col("__g")))
                .drop("__g"))
    dev = with_med.withColumn(
        "__ad", F.abs(F.col(score_col).cast("double") - F.col("__med")))
    mad = (dev.groupBy(group_col)
           .agg(F.element_at(
               _quantile_agg("__ad", [0.5], exact, relative_error), 1)
               .cast("double").alias("__mad"))
           .withColumnRenamed(group_col, "__g"))
    z = F.when(F.col("__mad") > 0,
               (F.col(score_col).cast("double") - F.col("__med"))
               / (F.lit(float(consistency)) * F.col("__mad")))
    flag = (F.when(F.col(score_col).isNull(),
                   F.lit(None).cast("boolean"))
            .when(F.col("__mad") > 0, F.abs(z) > F.lit(float(k)))
            .otherwise(F.col(score_col).cast("double") != F.col("__med")))
    return (dev.join(F.broadcast(mad),
                     F.col(group_col).eqNullSafe(F.col("__g")))
            .withColumn(z_col, z)
            .withColumn(out, flag)
            .drop("__g", "__med", "__ad", "__mad"))
