"""Skew-mitigation utilities for hot join/agg keys.

Not in the reference (its joins are rule-scale). At 100 TB a single hot
key (null foreign keys, a viral document's shingle, a default user_id)
concentrates one shuffle partition onto one task. AQE's skew-join
splitting handles sort-merge joins after the fact; these helpers encode
the *proactive* patterns:

* ``salted_join`` — replicate the small side S×, scatter the big side's
  hot keys across S sub-partitions. Works for any equi-join including
  ones AQE can't split (e.g. followed by a groupBy on the same key).
* ``key_skew_stats`` — cheap diagnosis: top-k key frequencies + the
  share of the hottest key, so pipelines can *decide* whether to salt.

Both are pure DataFrame ops (codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    salt: int = 8,
    how: str = "inner",
    salt_col: str = "__salt",
) -> DataFrame:
    """Equi-join with the big side's keys scattered across ``salt``
    sub-keys and the small side replicated ``salt``× to match.

    The big side never shuffles more data than an unsalted join — each
    row gains only a deterministic int (hash of the whole row, pmod S);
    the small side's replication is the price, so keep ``salt`` modest
    (8-32) and the small side actually small. Result is identical to
    ``big.join(small, on, how)`` for 'inner' and 'left' joins.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    big_salted = big.withColumn(
        salt_col, F.pmod(F.xxhash64(F.struct(*big.columns)), F.lit(salt))
    )
    small_rep = small.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = big_salted.join(small_rep, [on, salt_col], how)
    return out.drop(salt_col)


def key_skew_stats(df: DataFrame, key: str, *, top_k: int = 10) -> DataFrame:
    """Top-k hottest keys with their share of all rows.

    One groupBy + a tiny top-k; the output is rule-scale. A pipeline can
    gate salting on e.g. ``max_share > 0.05``. NULL keys (the classic
    silent hot spot) appear as their own row. Companion to
    ``profiling.key_skew_report``, the one-row distribution summary
    (skew ratio, entropy, recommended salt fan-out) — use that to
    decide WHETHER to salt and this to name the hot keys.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__t"), 6).alias("share"),
        )
        .orderBy(F.col("n_rows").desc(), F.col(key).asc_nulls_last())
        .limit(top_k)
    )
