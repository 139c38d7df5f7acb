"""Per-JOB breakdown of catalog queries: what are all those jobs?

Runs the named queries twice, in order, through bench.py's harness
(session profile, warmers, noop-sink timed action), then lists every job
each run submitted — description, wall, gap before it, tasks, task
time — from the status store of the run's tagged jobs
(bench.job_metrics, UI off), and how many classes Janino compiled for
the run (``codegen_compiles``, from Spark's CodegenMetrics). The
companion to profile_queries.py for the build-dominated entries where
fn() itself runs driver actions. A warm second run that still compiles
about as much as the first means the generated-class cache evicts
(``spark.sql.codegen.cache.maxEntries``).

    python tools/profile_jobs.py <query> [<query> ...]

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import itertools
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (QUERIES, bench_session, job_metrics,  # noqa: E402
                   run_query, warm)


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_jobs.py <query> [<query> ...]",
              file=sys.stderr)
        return 2
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session()
    warm(spark, sf_dir)
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    # second warm run is the interesting one (codegen cache warm)
    for run, name in itertools.product(range(2), names):
        c0 = compiles.getCount()
        with job_metrics(spark) as m:
            build_s, exec_s = run_query(spark, name, sf_dir)
        print(f"== {name} run {run}: build {build_s:.2f}s exec "
              f"{exec_s:.2f}s codegen_compiles {compiles.getCount() - c0}")
        prev_end = None
        for j in m["jobs"]:
            wall = j["completed_s"] - j["submitted_s"]
            gap = j["submitted_s"] - prev_end if prev_end else 0.0
            prev_end = j["completed_s"]
            print(f"  job {j['job_id']:>4} wall {wall:6.2f}s gap-before "
                  f"{gap:6.2f}s tasks {j['n_tasks']:>4} "
                  f"task_s {j['task_s']:7.2f} | {j['description'][:90]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
