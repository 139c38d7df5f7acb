"""Exclusive subset bench: bench.py's exact protocol on named queries.

For adjudicating suspected regressions on individual entries without
paying the full 155-entry run: same session profile, same warmers,
same min-of-3 per query, same frozen-canary bracket (host-speed
anchor) — all from bench.py's harness. Run it ALONE on the host —
overlapping Spark jobs produce the phantom regressions this tool
exists to rule out (r12 bench notes).

    python tools/bench_subset.py <query> [query ...]

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32). Prints one JSON line:
{"metric": "subset_bench", "queries": {...}, "canary": {...}, ...}.
Cross-run comparison contract: divide by canary.total ratios first.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (QUERIES, bench_session, canary_bracket,  # noqa: E402
                   time_query, warm)


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: bench_subset.py <query> [query ...]",
              file=sys.stderr)
        return 2
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session()
    warm(spark, sf_dir)
    timings, canary, _, _ = canary_bracket(
        spark, sf_dir, lambda: {n: time_query(spark, n, sf_dir)
                                for n in names})
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "subset_bench", "unit": "sec", "queries": timings,
        "canary": canary,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
