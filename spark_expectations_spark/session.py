"""Session tuning profiles — SCALE.md's knob table as code.

Every operator in this repo assumes a sanely-configured session (AQE
on, shuffle partitions sized to the cluster, bounded scan partitions).
``scale_confs`` returns that configuration as a plain dict so pipelines
apply ONE reviewed profile instead of cargo-culted builder chains, and
``configure`` applies it to a builder. Profiles are starting points,
not magic: every value is overridable, and the dict form diffs cleanly
in code review.
"""

from __future__ import annotations

from typing import Mapping, Optional

#: knob rationale lives here once, next to the values (SCALE.md carries
#: the prose table)
_BASE = {
    # AQE re-plans at runtime: coalesces tiny shuffle partitions, flips
    # sort-merge joins to broadcast when a side turns out small, and
    # splits skewed partitions — the single most valuable flag at scale
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-interop surface this repo uses
    # (mapInPandas operators, toPandas collects on rule-scale frames)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # one BLAS thread per python worker: parallelism comes from
    # partitions; nested BLAS threading oversubscribes cores
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # generated-class cache: every operator runs as Catalyst-generated
    # Java, and one warm pass of the heavy-operator roster needs ~370
    # classes, so at the default 100 entries each warm pass recompiled
    # ~350 of them in Janino; at 2000 it compiles fewer than 30. A
    # STATIC SQL conf: it takes effect only as a builder conf set
    # before the session starts (``configure``); ``spark.conf.set`` on
    # a live session cannot change it
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def scale_confs(
    profile: str = "local-dev",
    *,
    total_cores: Optional[int] = None,
    target_partition_mb: int = 256,
) -> dict:
    """Configuration dict for a profile:

    * ``"local-dev"`` — what this repo's tests/bench use: shuffle
      partitions ≈ cores, small broadcast threshold, UI off.
    * ``"cluster-large"`` — the 100 TB posture: shuffle partitions
      ≥ 2× total cores (AQE coalesces down, never splits up —
      undersizing is the unfixable direction), scan partitions capped
      at ``target_partition_mb`` so a task's input fits executor
      memory, 64 MB broadcast threshold (dims broadcast, facts never),
      zstd parquet writes.

    ``total_cores`` sizes the shuffle-partition count; required for
    ``cluster-large`` (there is no safe default for a cluster we
    can't see)."""
    confs = dict(_BASE)
    if profile == "local-dev":
        cores = total_cores or 8
        confs.update({
            "spark.sql.shuffle.partitions": str(cores),
            "spark.sql.autoBroadcastJoinThreshold": "10m",
            "spark.ui.enabled": "false",
        })
    elif profile == "cluster-large":
        if not total_cores:
            raise ValueError(
                "cluster-large needs total_cores (shuffle partitions "
                "size from it; no safe default exists)")
        confs.update({
            "spark.sql.shuffle.partitions": str(2 * total_cores),
            "spark.sql.files.maxPartitionBytes":
                f"{target_partition_mb}m",
            "spark.sql.autoBroadcastJoinThreshold": "64m",
            "spark.sql.parquet.compression.codec": "zstd",
        })
    else:
        raise ValueError(f"unknown profile {profile!r}: "
                         "use 'local-dev' or 'cluster-large'")
    return confs


def spread_scan(df, spark, min_partitions: Optional[int] = None):
    """Scan-parallelism guard: repartition ``df`` round-robin ONLY when
    its scan produced fewer partitions than the session has cores.

    Why it exists: Spark splits files by byte ranges, but a parquet
    file is only splittable at row-group boundaries — a small file (or
    a badly-written one with a single giant row group) scans as ONE
    partition no matter what ``maxPartitionBytes`` says, and every
    map-side expression before the first shuffle (shingling, PQ
    encoding, levenshtein, HOF projections) then runs on ONE core.
    ``spark.sql.files.minPartitionNum`` cannot fix this either: extra
    byte-range splits of a one-row-group file come back empty.

    Scale adjudication (100 TB): a real corpus scans as thousands of
    partitions, so ``n_scan >= target`` and this is a NO-OP — the
    guard can never inject a corpus-sized shuffle into a well-laid-out
    pipeline. It only fires when parallelism is below the core count,
    exactly the regime where one small exchange buys back idle cores.
    The partition probe compiles the physical plan but launches no job.

    Thin alias over ``plans.fan_out`` (the same exchange, used inside
    the dedup operators) so the repo has ONE repartition decision with
    two documented gates, both living in fan_out's single guarded
    JVM-escape block (Connect-safe by the TestSparkConnectStyle scan):
    the partition probe (never touch an already-parallel scan) and the
    Catalyst size bound (never round-robin a frame estimated over
    2 GB — a narrow-but-huge scan keeps its layout; repartitioning
    that is a caller's explicit call, not a guard's). ``spark`` is
    accepted for call-site readability; the session is taken from the
    frame itself.
    """
    del spark  # the frame knows its session; kept for API symmetry
    from .plans import fan_out
    return fan_out(df, min_partitions=min_partitions or 0)


def configure(builder, confs: Mapping[str, str]):
    """Apply a conf dict to a ``SparkSession.builder`` (returns the
    builder for chaining): ``configure(builder,
    scale_confs('cluster-large', total_cores=2000)).getOrCreate()``.

    Apply the profile here, before the session starts: static SQL confs
    in it (``spark.sql.codegen.cache.maxEntries``) take effect only as
    builder confs, and ``spark.conf.set`` on a running session cannot
    change them."""
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder
