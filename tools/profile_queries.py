"""Per-query time breakdown: driver (plan/codegen) vs executor work.

For each named query, runs bench.py's harness (same session profile,
same warmers, same noop-sink action, min over 3 runs) and splits the
best run's wall clock into:

* ``build_s``   — Python DSL + Catalyst analysis (constructing the DF)
* ``exec_s``    — action wall time (min over runs, like bench.py)
* ``n_jobs`` / ``n_stages`` / ``n_tasks`` — scheduling surface
* ``task_s``    — sum of executorRunTime across the query's stages
* ``cpu_s``     — sum of executorCpuTime
* ``shuffle_w_mb`` / ``shuffle_r_mb`` — shuffle write / read bytes
* ``input_mb``   — bytes read from source
* ``sched_gap_s`` — exec_s - task_s/cores: wall time NOT covered by
  task execution = driver planning/codegen/scheduling/stage gaps.
  The number to chase when it dominates exec_s (guide §7.3: planning
  is single-threaded driver work — it does not shrink with the
  cluster).

Usage:
    python tools/profile_queries.py [query ...]   # default: top bench

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32). Prints one JSON line per query plus a
sorted summary table on stderr. Job metrics come from the status
store of the run's tagged jobs (bench.job_metrics), with the UI off.
``rows`` is always -1: the noop sink counts no rows. Run ALONE on the
host.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (QUERIES, bench_session, job_metrics,  # noqa: E402
                   run_query, warm)


def main() -> int:
    names = sys.argv[1:] or [
        "docs_weighted_cosine", "docs_set_jaccard_join",
        "docs_dedup_pipeline", "part_copurchase_rank", "ann_ivf_kmeans",
        "embed_ivf_pq", "embed_cluster_qa", "docs_fold_pack",
        "embed_kmeans", "docs_label_alpha_ci",
    ]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session()
    cores = spark.sparkContext.defaultParallelism
    warm(spark, sf_dir)

    results = []
    for name in names:
        best = None
        for _ in range(3):
            with job_metrics(spark) as m:
                build_s, exec_s = run_query(spark, name, sf_dir)
            rec = {"query": name, "rows": -1,
                   "build_s": round(build_s, 3),
                   "exec_s": round(exec_s, 3),
                   "total_s": round(build_s + exec_s, 3)}
            rec.update((k, v) for k, v in m.items() if k != "jobs")
            rec["sched_gap_s"] = round(exec_s - m["task_s"] / cores, 3)
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
        results.append(best)
        print(json.dumps(best), flush=True)

    print("\n#  query                         total  build   exec  "
          "task_sum  gap   jobs stages  shufW(MB)", file=sys.stderr)
    for r in sorted(results, key=lambda r: -r["total_s"]):
        print(f"#  {r['query']:<28} {r['total_s']:6.2f} {r['build_s']:6.2f} "
              f"{r['exec_s']:6.2f} {r['task_s']:8.2f} "
              f"{r['sched_gap_s']:5.2f} {r['n_jobs']:4d} "
              f"{r['n_stages']:5d} {r['shuffle_w_mb']:9.2f}",
              file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
