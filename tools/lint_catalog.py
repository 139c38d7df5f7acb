"""Plan-lint every catalog query: the fleet-wide scale audit.

Builds each queries() frame (some operators run small planning jobs —
sampler quotas, percentile thresholds — so this is minutes, not
seconds) and reports plan_lint findings. Error-tier findings are the
repo's zero-tolerance set (cartesian products, row-Python UDFs); the
warn tier is printed for review — deliberate broadcast cross joins
(grid builds) appear there by design.

    python tools/lint_catalog.py [sf_dir] [query ...]

Exit code 1 when any ERROR-tier finding (or a query that fails to
build) is present. Last full run (r14): 233/233 queries 0 errors;
53 warn pairs, EVERY one carrying a standing adjudication below —
enforced by tests/test_lint_adjudications.py over the
tools/lint_warns.json snapshot this tool writes on full-catalog runs
(a new bare warn fails the suite). The r14 drop from 134 to 50 pairs
is the plan_lint precision work, not weakened rules: filter-not-pushed
now pairs each Filter with ITS OWN scan's PushedFilters (a pushed dim
filter no longer flags the fact table's null-check-only scan),
null checks on derived expressions strip balanced-paren-aware, and
single-partition exchanges feeding a keyless aggregate demote to info
as the provable scalar reduce (scalar-reduce-exchange).
Plan_lint demotes BroadcastNestedLoopJoins whose build side is a
provably 1-row aggregate to info (r8 verdict task 6); the demotion
requires an explicit BuildLeft/BuildRight token and keeps the warn
otherwise (ADVICE r9).
"""

from __future__ import annotations

import sys
from pathlib import Path

# anchor to the repo root so the linter (and its snapshot) behave the
# same regardless of the caller's cwd
_REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO_ROOT))

from pyspark.sql import SparkSession  # noqa: E402

from spark_expectations_spark import plans  # noqa: E402
from spark_expectations_spark.queries import QUERIES  # noqa: E402

#: Standing adjudications for warn-tier findings the linter cannot
#: prove benign from the plan alone. Each remaining cartesian-product
#: warn is either here (with its reason) or a real finding to fix.
KNOWN_BENIGN: dict[tuple[str, str], str] = {
    ("docs_curriculum", "cartesian-product"):
        "quantile_buckets thresholds join: the single-group (lit "
        "constant) case folds the eqNullSafe key so the join plans as "
        "BNLJ, but the build side is the explicitly-broadcast "
        "group-cardinality thresholds frame (1 row per group) — the "
        "grouped agg isn't keyless so plan_lint can't prove it 1-row",
    ("part_blocking_quality", "cartesian-product"):
        "the report's TRUTH side is a cross join BY DESIGN and by "
        "documented contract runs only on the deterministic sample "
        "(sample_fraction); the blocking side never cross-joins",
    ("docs_label_alpha_ordinal", "cartesian-product"):
        "ordinal alpha's δ² table and D_e pairing are RANK-CARDINALITY "
        "self-joins on v_a < v_b (≤ distinct-rating-values² rows — 5 "
        "ratings → ≤ 10 pairs — broadcast); the corpus-scale ratings "
        "frame only ever meets itself on unit-keyed equi-joins, and "
        "the remaining crosses are 1-row aggregate folds",
    # --- r12 verdict №2: the 7 standing warn-tier findings, annotated
    # so the linter output reads zero unexplained findings ---
    ("events_cusum_merge_check", "filter-not-pushed"):
        "the half-split predicates (user_id % 2 = i) are modulo "
        "arithmetic parquet cannot push, per scan of the two halves; "
        "the _nv > 0 guard in cusum_from_bucket_stats tests a "
        "post-aggregate column that has no scan to push into — the "
        "corpus is scanned three times BY DESIGN (two halves + the "
        "direct twin; that duplication IS the merge check)",
    ("orders_theilsen", "filter-not-pushed"):
        "the NULL/NaN drop tests the per-day MEAN, a post-aggregate "
        "column with no scan to push into; pairs/medians then run on "
        "the bucket-cardinality collapse only",
    ("events_kendall_tau", "filter-not-pushed"):
        "same post-aggregate NULL/NaN drop as orders_theilsen (the "
        "per-day mean collapse feeds the pair fold)",
    ("events_spearman", "filter-not-pushed"):
        "same post-aggregate NULL/NaN drop as orders_theilsen (the "
        "per-day mean collapse feeds the rank windows)",
    ("orders_ca_trend", "filter-not-pushed"):
        "the guard filter tests COMPUTED columns (w30 = date-diff//30 "
        "and the status flag cast) that do not exist in the parquet "
        "schema — unpushable by construction; the corpus is scanned "
        "exactly once into one bucket-cardinality groupBy",
    ("docs_mannwhitney", "filter-not-pushed"):
        "the side filter tests a COMPUTED column (substr(source) cast "
        "% 2) that does not exist in the parquet schema — unpushable "
        "by construction; the n_chars null-drop rides the same scan",
    ("docs_rank_merge_check", "filter-not-pushed"):
        "the same computed side filter as docs_mannwhitney (its merge "
        "twin runs the identical collapse on doc_id-parity halves — "
        "the parity split is a modulo EXPRESSION predicate, the "
        "lineitem_price_jsd precedent); each half rides one scan",
    ("docs_label_agreement", "filter-not-pushed"):
        "the NULL-drop filter tests rater_b, a COMPUTED when-chain "
        "column (the deterministic disagreement/NULL injection) that "
        "does not exist in the parquet schema — unpushable by "
        "construction; the corpus is scanned exactly once",
    ("lineitem_price_jsd", "filter-not-pushed"):
        "the deterministic halves split (l_orderkey % 2 = 0/1) is a "
        "modulo EXPRESSION predicate — parquet pushdown only handles "
        "plain column comparisons, so the filter runs post-scan by "
        "format capability, not plan shape; one scan per side, "
        "column-pruned to the two read columns",
    ("lineitem_drift_report", "filter-not-pushed"):
        "same modulo-expression halves split as lineitem_price_jsd "
        "(unpushable by parquet capability); all downstream frames are "
        "(columns × buckets)-cardinality",
    ("lineitem_drift_verdict", "filter-not-pushed"):
        "same modulo-expression halves split as lineitem_price_jsd; "
        "the verdict layer only ever touches the columns-cardinality "
        "report frame",
    ("events_quantile_rollup", "single-partition-exchange"):
        "the GLOBAL quantile read-off's ungrouped cumulative window "
        "runs on the merged sketch — a bins-cardinality frame "
        "(len(edges)+1 rows, KB-scale); the corpus-scale cell build "
        "before it is a fully parallel map-side-combined groupBy",
    ("docs_vocab_divergence", "filter-not-pushed"):
        "the doc_id % 2 halves split is a modulo EXPRESSION predicate "
        "(parquet pushes only plain comparisons — the "
        "lineitem_price_jsd adjudication); the empty-token filter "
        "tests the computed split array",
    # --- r13 verdict №2: the 9 warns the linter grew this round ---
    ("part_fuzzy_disjunctive", "filter-not-pushed"):
        "the p_partkey % 20 slice is a modulo EXPRESSION predicate "
        "(unpushable by parquet capability — the lineitem_price_jsd "
        "adjudication) and the distance <= 1 verify tests COMPUTED "
        "levenshtein over concatenated keys; one scan per side",
    ("docs_brier", "filter-not-pushed"):
        "same COMPUTED when-chain fixture drop rule as "
        "docs_calibration (score NOT NULL, 0 <= score <= 1 on a "
        "column that does not exist in the parquet schema); one "
        "corpus scan into a 10-key groupBy + KB-scale folds",
    ("docs_calibration", "filter-not-pushed"):
        "the drop rule (score NOT NULL, 0 <= score <= 1) tests the "
        "COMPUTED when-chain fixture column that does not exist in "
        "the parquet schema (docs_label_agreement's shape); the "
        "corpus is scanned exactly once into a 10-key groupBy",
    ("docs_calibration_ece", "filter-not-pushed"):
        "same computed-fixture drop rule as docs_calibration — the "
        "score column is a when-chain over doc_id, not a scan column",
    ("part_blocking_quality", "filter-not-pushed"):
        "the deterministic 20% sample gate is an md5-hex-prefix "
        "EXPRESSION over the cast key (unpushable by parquet "
        "capability) and the truth verify tests computed "
        "levenshtein; both inputs are scanned once each",
    ("part_fuzzy_probe", "filter-not-pushed"):
        "the probe sample (p_partkey % 10 = 0) is a modulo "
        "EXPRESSION predicate (lineitem_price_jsd adjudication) and "
        "the distance verify tests computed levenshtein; the index "
        "and probe sides are each scanned once",
    # --- r14: full-catalog sweep after the per-scan pairing and
    # scalar-reduce demotion landed in plan_lint — every remaining
    # warn adjudicated individually (tests/test_lint_adjudications.py
    # fails the suite on any future bare pair) ---
    # modulo halves/sample splits: expression predicates parquet
    # cannot push (plain comparisons only) — one scan per side,
    # column-pruned; the standing lineitem_price_jsd argument
    ("events_drift_fdr", "filter-not-pushed"):
        "event_id % 2 halves split (modulo expression — the "
        "lineitem_price_jsd adjudication); one scan per side",
    ("lineitem_ks_by_flag_fdr", "filter-not-pushed"):
        "l_orderkey % 2 halves split (modulo expression); one scan "
        "per side per segment fleet member",
    ("lineitem_ks_pvalue", "filter-not-pushed"):
        "l_orderkey % 2 halves split (modulo expression); one scan "
        "per side",
    ("lineitem_price_drift", "filter-not-pushed"):
        "l_orderkey % 2 halves split (modulo expression); one scan "
        "per side",
    ("lineitem_price_ks", "filter-not-pushed"):
        "l_orderkey % 2 halves split (modulo expression); one scan "
        "per side",
    ("orders_fk_profile", "filter-not-pushed"):
        "the orphan-injection slice (c_custkey % 2 = 0) is a modulo "
        "expression over the dim side; the fact scans push their "
        "null checks and the profile aggs are map-side combined",
    ("orders_snapshot_diff", "filter-not-pushed"):
        "the two snapshot fixtures (o_orderkey % 3 / % 5 exclusions) "
        "are modulo expressions; each snapshot is scanned once into "
        "the full-outer diff",
    ("orders_status_drift", "filter-not-pushed"):
        "o_orderkey % 2 halves split (modulo expression); the "
        "category histograms after it are status-cardinality",
    # deterministic md5-coin gates: hash EXPRESSIONS over cast keys —
    # unpushable by capability, and the coin IS the operator's
    # documented sampling contract
    ("docs_decontaminate_screened", "filter-not-pushed"):
        "the benchmark-membership md5 coin (deterministic fixture "
        "split) is a hash expression over the cast doc_id; both "
        "corpus scans are single-pass and column-pruned",
    ("docs_decontaminate_spans", "filter-not-pushed"):
        "same md5-coin benchmark split as docs_decontaminate_screened "
        "— hash expression, single-pass scans",
    ("docs_weighted_sample", "filter-not-pushed"):
        "the A-ES exponential-sort key rides an md5 coin (hash "
        "expression over cast doc_id) — the sampler's documented "
        "determinism contract; one corpus scan",
    # computed when-chain fixture columns (docs_calibration's shape):
    # the predicate tests a column that does not exist in the parquet
    # schema
    ("docs_stratified_metrics", "filter-not-pushed"):
        "the drop rule tests the COMPUTED when-chain score fixture "
        "(docs_calibration's adjudicated shape); one corpus scan into "
        "a 20-key stratum groupBy",
    ("docs_isotonic_by_source", "filter-not-pushed"):
        "the drop rule tests the COMPUTED when-chain score fixture "
        "(docs_calibration's adjudicated shape); per-source PAV runs "
        "on the distinct-score frames after one corpus scan",
    ("docs_label_alpha", "filter-not-pushed"):
        "the rater fixtures are when-chain columns over doc_id "
        "(deterministic disagreement/NULL injection — "
        "docs_label_agreement's adjudicated shape); no scan column "
        "exists to push",
    ("docs_label_alpha_interval", "filter-not-pushed"):
        "the missing-cell injection (NOT((doc_id % 97 = 0) <=> true)) "
        "is a modulo expression and the rating is a computed "
        "(n_chars % 5 + 1) column; unit/value marginals after it are "
        "rating-cardinality",
    ("docs_label_alpha_ordinal", "filter-not-pushed"):
        "same computed rating fixture as docs_label_alpha_interval; "
        "the ordinal machinery only ever touches rank-cardinality "
        "frames",
    # predicates on computed/derived values parquet cannot take:
    # string functions, array guards, CASE planning expressions
    ("docs_chunk_plan", "filter-not-pushed"):
        "the chunk-count CASE over n_chars*37 is the synthetic "
        "duration fixture — a computed planning expression; the "
        "explode after it is row-bounded by the chunk budget",
    ("docs_chunks", "filter-not-pushed"):
        "length(text) > 0 is a string-function guard (parquet pushes "
        "plain comparisons only); one corpus scan, chunking is "
        "map-only",
    ("docs_rouge_overlap", "filter-not-pushed"):
        "the min-token guards test HOF-derived shingle arrays (split/"
        "filter/slice chains) — computed arrays, no scan column; "
        "corpus scanned once per side",
    ("embed_cluster_qa", "filter-not-pushed"):
        "the usable-vector guard (size(embedding) > 0, every element "
        "finite and non-NULL) — parquet cannot push array-typed "
        "predicates; the QA joins are centroid-keyed equi-joins after "
        "one corpus scan",
    ("embed_mean_pool", "filter-not-pushed"):
        "size(embedding) > 0 array guard (array-typed predicate — "
        "unpushable by format); map-only pooling after one scan",
    ("embed_pq", "filter-not-pushed"):
        "the code-assignment guard tests the COMPUTED PQ code array; "
        "the underlying embedding scan is single-pass",
    ("embed_rms_outliers", "filter-not-pushed"):
        "size(embedding) > 0 array guard (unpushable array "
        "predicate); the moment partials are map-side combined",
    ("embed_standardize", "filter-not-pushed"):
        "size(embedding) > 0 array guard (unpushable array "
        "predicate); one scan + d-cardinality moment fold",
    # single-partition exchanges over PROVABLY small frames the plan
    # alone cannot bound (windows/sorts over bins/segments/ranks —
    # the corpus-scale aggregations before them are parallel)
    ("docs_simhash_hamming", "filter-not-pushed"):
        "the eligibility gate (size(split(text)) >= 8) tests a "
        "derived split array — no scan column to push; one corpus "
        "scan per signature side, pairs are id-keyed equi-joins",
    ("orders_benford", "filter-not-pushed"):
        "the magnitude gate (abs(value) >= 1) is a function-wrapped "
        "predicate by the operator's documented contract — parquet "
        "pushes plain comparisons only; one scan into a (group, "
        "digit) groupBy",
    ("docs_vocab_growth", "single-partition-exchange"):
        "the cumulative curve window orders the CHECKPOINT-cardinality "
        "frame (5 rows); the corpus-scale first-occurrence groupBy and "
        "per-doc token counts before it are fully parallel",
    ("docs_isotonic_check", "single-partition-exchange"):
        "the PAV pool window runs on the DISTINCT-score frame (the "
        "fixture's 101 score values); the corpus-scale (score, n, "
        "sum_y) groupBy before it is map-side combined and parallel",
    ("docs_label_alpha_ordinal", "single-partition-exchange"):
        "the rank-marginal sorts run on rating-cardinality frames "
        "(≤ 5 distinct ratings → ≤ 5 rows); the unit-level corpus "
        "aggs stay partitioned",
    ("events_cms_daily_rollup", "single-partition-exchange"):
        "the final GlobalLimit orders the k-scale heavy-hitter "
        "report (top-k rows, k fixed); the CMS cell build is a fully "
        "parallel per-day groupBy",
    ("events_drift_fdr", "single-partition-exchange"):
        "the BH-FDR rank window orders the SEGMENT-cardinality "
        "p-value frame (one row per segment, 20 here); every "
        "corpus-scale histogram beneath it is parallel",
    ("lineitem_ks_by_flag_fdr", "single-partition-exchange"):
        "same BH-FDR rank as events_drift_fdr over the 3-segment "
        "p-value frame",
    ("lineitem_ks_pvalue", "single-partition-exchange"):
        "the cumulative-CDF window runs on the BINNED histogram "
        "(len(edges)+1 rows, KB-scale — ks_statistic's documented "
        "grid contract); both histogram passes are parallel",
    ("lineitem_price_ks", "single-partition-exchange"):
        "same bins-cardinality cumulative-CDF window as "
        "lineitem_ks_pvalue",
    ("lineitem_price_jsd", "single-partition-exchange"):
        "js_divergence is drift_report's combine for one column: its "
        "per-side totals are a window over the same bins-cardinality "
        "histogram as lineitem_ks_pvalue",
    ("orders_priority_status_effects", "single-partition-exchange"):
        "the global N/chi² margins are windows over the r×c CELL "
        "frame (15 rows here; cells-cardinality by construction — "
        "the corpus collapses in the one (row,col) groupBy before "
        "any window runs), the CUSUM bucket-frame convention",
}


#: Written on FULL-catalog runs only; tests/test_lint_adjudications.py
#: asserts every (query, rule) warn recorded here carries a
#: KNOWN_BENIGN entry, so a new unadjudicated warn fails the suite the
#: next time the full linter runs (the round ritual) instead of
#: sitting silently in the lint output.
SNAPSHOT_PATH = str(Path(__file__).resolve().parent / "lint_warns.json")


def main() -> int:
    import json

    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.001"
    names = args[1:] or list(QUERIES)
    full_run = not args[1:]
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "8")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    n_err = 0
    warn_pairs: set[tuple[str, str]] = set()
    for name in names:
        try:
            findings = plans.plan_lint(QUERIES[name](spark, sf))
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            print(f"BUILD-FAIL {name}: {exc}")
            n_err += 1
            continue
        for f in findings:
            if f["severity"] == "error":
                n_err += 1
                print(f"ERROR {name}: {f['rule']}: {f['detail']}")
            elif f["severity"] == "warn":
                warn_pairs.add((name, f["rule"]))
                note = KNOWN_BENIGN.get((name, f["rule"]))
                if note:
                    print(f"warn  {name}: {f['rule']} [adjudicated: "
                          f"{note}]")
                else:
                    print(f"warn  {name}: {f['rule']}")
    if full_run:
        with open(SNAPSHOT_PATH, "w") as fh:
            json.dump(sorted([q, r] for q, r in warn_pairs), fh, indent=1)
        print(f"wrote {len(warn_pairs)} warn pairs to {SNAPSHOT_PATH}")
    print(f"{len(names)} queries linted, {n_err} errors")
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
