"""Per-JOB breakdown of catalog queries: what are all those jobs?

Runs the named queries twice, in order (bench session profile +
warmers), then lists every job each run submitted — description, wall
ms, task-time ms, stages — from the UI REST API, and how many classes
Janino compiled for the run (``codegen_compiles``, from Spark's
CodegenMetrics). The companion to profile_queries.py for the
build-dominated entries where fn() itself runs driver actions. A warm
second run that still compiles about as much as the first means the
generated-class cache evicts (``spark.sql.codegen.cache.maxEntries``).

    python tools/profile_jobs.py <query> [<query> ...]
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def main() -> int:
    names = sys.argv[1:]
    from spark_expectations_spark.queries import QUERIES, load
    from spark_expectations_spark.session import configure, scale_confs

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    confs = scale_confs("local-dev", total_cores=cpus)
    confs.update({"spark.driver.memory": "24g",
                  "spark.sql.autoBroadcastJoinThreshold": "64m",
                  "spark.ui.enabled": "true", "spark.ui.port": "4049"})
    spark = configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-jobs"), confs).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "documents", "embeddings",
              "events", "part", "supplier", "nation", "region"):
        load(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    base = f"http://localhost:4049/api/v1/applications/{sc.applicationId}"
    compiles = (sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    # second warm run is the interesting one (codegen cache warm)
    for run, name in itertools.product(range(2), names):
        group = f"jobs-{name}-{run}"
        sc.setJobGroup(group, name)
        c0 = compiles.getCount()
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.time()
        n = df.count()
        t2 = time.time()
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()
        print(f"== {name} run {run}: build {t1-t0:.2f}s exec "
              f"{t2-t1:.2f}s rows {n} "
              f"codegen_compiles {compiles.getCount() - c0}")
        jobs = [j for j in _api(base, "/jobs")
                if j.get("jobGroup") == group]
        jobs.sort(key=lambda j: j["jobId"])
        stages = {s["stageId"]: s for s in _api(base, "/stages")}
        prev_end = None
        for j in jobs:
            sub = j["submissionTime"]; comp = j.get("completionTime", "")
            task_ms = sum(stages[s].get("executorRunTime", 0)
                          for s in j.get("stageIds", []) if s in stages)
            # wall from ISO strings
            from datetime import datetime
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            try:
                ts = datetime.strptime(sub.replace("GMT", ""), fmt)
                te = datetime.strptime(comp.replace("GMT", ""), fmt)
                wall = (te - ts).total_seconds()
                gap = (ts - prev_end).total_seconds() if prev_end else 0.0
                prev_end = te
            except Exception:
                wall, gap = -1, -1
            desc = (j.get("description") or j.get("name", ""))[:90]
            print(f"  job {j['jobId']:>4} wall {wall:6.2f}s gap-before "
                  f"{gap:6.2f}s tasks {j.get('numTasks', 0):>4} "
                  f"task_s {task_ms/1e3:7.2f} | {desc}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
