"""Measure the DATA term (r12 verdict task 3): time the most expensive
catalog entries at sf0.1 and at the deterministic 10x tier
tools/make_scale_tier.py builds, canary-normalize both tiers, and
report per-entry scaling ratios. A plan whose 100 TB story holds
should grow ~linearly (ratio ~= factor after subtracting fixed
overhead); anything super-linear is a finding for SCALE.md.

    python tools/make_scale_tier.py                # build the tier once
    python tools/bench_scale.py [tier_dir] [entry ...]

Protocol: bench.py's harness — its session on local[$SPARK_GRAFT_CPUS]
(default 32), warm noop scans per tier, min-of-3 per query, the 5
frozen canaries timed at each tier's start and end (host-speed anchor —
ratios are reported raw AND canary-normalized). Output: one JSON line
with per-entry seconds at both tiers + ratios. SCALE_r13-r15 are
count()-timed, so compare only to SCALE_r17_* and later, and only at
the same core count (SCALE_r17_* ran on 32).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (bench_session, canary_bracket, time_query,  # noqa: E402
                   warm)

#: The 12 most expensive BENCH_r12 entries (plus the two dq twins are
#: deliberately absent — the engine-overhead ratio is BASELINE.md's
#: gate, not a scaling question).
DEFAULT_ENTRIES = [
    "docs_weighted_cosine", "part_copurchase_rank", "docs_dedup_pipeline",
    "embed_cluster_qa", "docs_set_jaccard_join", "embed_ivf_pq",
    "docs_fold_pack", "docs_decontaminate_screened", "embed_kmeans",
    "lineitem_ks_by_flag_fdr", "ann_ivf_kmeans", "dedup_lsh_quality",
]

CANARY_DIR = "/root/testdata/sf0.1"


def _tier(spark, sf_dir: str, entries) -> tuple[dict, float]:
    """Time the entries at sf_dir, bracketed by the 5 frozen canaries
    run against FIXED sf0.1 data — the canaries anchor HOST speed, so
    they must not scale with the tier under measurement."""
    warm(spark, sf_dir)
    # re-warm the canaries' own tables too: on a second tier the sf0.1
    # page-cache residue from the previous pass is stale, and a cold
    # canary_first would bias the host-drift normalization (ADVICE r13)
    if sf_dir != CANARY_DIR:
        warm(spark, CANARY_DIR)
    times, canary, _, _ = canary_bracket(
        spark, CANARY_DIR,
        lambda: {n: time_query(spark, n, sf_dir) for n in entries})
    return times, canary["total"]


def main() -> None:
    tier_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1"
    entries = sys.argv[2:] or DEFAULT_ENTRIES
    spark = bench_session()

    base, canary_base = _tier(spark, CANARY_DIR, entries)
    big, canary_tier = _tier(spark, tier_dir, entries)

    host_drift = canary_tier / max(canary_base, 1e-9)
    out = {"metric": "scale_ratio_10x", "sf_base": 0.1,
           "tier_dir": tier_dir, "canary_base": canary_base,
           "canary_tier": canary_tier,
           "host_drift": round(host_drift, 3), "entries": {}}
    for n in entries:
        raw = big[n] / max(base[n], 1e-9)
        out["entries"][n] = {
            "base_s": base[n], "tier_s": big[n],
            "ratio_raw": round(raw, 2),
            "ratio_norm": round(raw / max(host_drift, 1e-9), 2),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
