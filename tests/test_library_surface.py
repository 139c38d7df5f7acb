"""Tests for loaders, validation, notifications, streaming, and plan checks."""

import json
import time

import pytest
from pyspark.sql import functions as F

from spark_expectations_spark import DQConfig, DQEngine, DQRuleError, Rule, RuleSet
from spark_expectations_spark import plans, validation
from spark_expectations_spark.plans import local_frame, plan_text
from spark_expectations_spark.notifications import (
    CollectingNotifier, NotificationHub, NotificationRules,
)
from spark_expectations_spark.sources.loaders import load_rules, rules_from_doc

from conftest import SF_DIR


class TestLoaders:
    DOC = {
        "product_id": "p1",
        "defaults": {"table_name": "db.t", "action_if_failed": "drop"},
        "dq_env": {"DEV": {"is_active": True}, "prod": {"is_active": False}},
        "rules": [
            {"rule": "r1", "rule_type": "row_dq", "column_name": "c",
             "expectation": "c > 0"},
            {"rule": "r2", "rule_type": "agg_dq", "column_name": "c",
             "expectation": "sum(c) > 0", "action_if_failed": "ignore"},
        ],
    }

    def test_doc_defaults_and_env(self):
        rs = rules_from_doc(self.DOC, env="dev")
        by = {r.rule: r for r in rs}
        assert by["r1"].table_name == "db.t"
        assert by["r1"].action_if_failed == "drop"
        assert by["r2"].action_if_failed == "ignore"
        assert all(r.is_active for r in rs)
        rs_prod = rules_from_doc(self.DOC, env="PROD")
        assert not any(r.is_active for r in rs_prod)

    def test_json_file_roundtrip(self, tmp_path):
        p = tmp_path / "rules.json"
        p.write_text(json.dumps(self.DOC))
        rs = load_rules(str(p), env="dev")
        assert len(rs) == 2

    def test_yaml_file(self, tmp_path):
        yaml = pytest.importorskip("yaml")
        p = tmp_path / "rules.yaml"
        p.write_text(yaml.safe_dump(self.DOC))
        assert len(load_rules(str(p))) == 2

    def test_missing_product_id(self):
        with pytest.raises(DQRuleError, match="product_id"):
            rules_from_doc({"rules": []})

    def test_to_df_roundtrip(self, spark):
        rs = rules_from_doc(self.DOC)
        df = rs.to_df(spark)
        assert df.count() == 2
        back = RuleSet.from_df(df, product_id="p1")
        assert {r.rule for r in back} == {"r1", "r2"}


class TestValidation:
    def _r(self, rule_type, exp):
        return Rule("p", "t", rule_type, "r", "c", exp)

    def test_row_rule_with_agg_rejected(self, spark):
        issues = validation.validate_rule(spark, self._r("row_dq", "sum(c) > 10"))
        assert any(i.severity == "error" for i in issues)

    def test_row_rule_with_window_ok(self, spark):
        issues = validation.validate_rule(
            spark, self._r("row_dq", "count(*) over (partition by c) = 1"))
        assert not issues

    def test_agg_rule_without_agg_rejected(self, spark):
        issues = validation.validate_rule(spark, self._r("agg_dq", "c > 10"))
        assert any("no aggregate" in i.message for i in issues)

    def test_parse_error(self, spark):
        issues = validation.validate_rule(spark, self._r("row_dq", "c >>>= 1"))
        assert any(i.severity == "error" for i in issues)

    def test_unresolved_column_against_df(self, spark):
        df = spark.createDataFrame([(1,)], "x int")
        issues = validation.validate_against_df(
            spark, self._r("row_dq", "missing_col > 1"), df)
        assert issues and issues[0].severity == "error"

    def test_query_dq_needs_parens(self, spark):
        issues = validation.validate_rule(
            spark, self._r("query_dq", "select 1"))
        assert any("parenthesized" in i.message for i in issues)

    def test_raise_on_error(self, spark):
        with pytest.raises(DQRuleError):
            validation.validate_rules(
                spark, [self._r("agg_dq", "c > 10")], raise_on_error=True)


class TestNotifications:
    def test_lifecycle_events(self, spark, simple3):
        coll = CollectingNotifier()
        hub = NotificationHub(NotificationRules(
            notify_on_start=True, notify_on_completion=True,
            error_threshold_pct=10.0))
        hub.register(coll)
        rules = RuleSet([Rule("p1", "t", "row_dq", "gt1", "col1", "col1 > 1")])
        cfg = DQConfig(product_id="p1", table_name="t",
                       write_error_table=False, notifications=hub)
        DQEngine(cfg).run(simple3, rules, spark)
        events = [e for e, _ in coll.events]
        assert events == ["start", "completion", "error_threshold"]
        payload = dict(coll.events[2][1])
        assert payload["error_percentage"] > 10.0

    def test_failure_event(self, spark, simple3):
        coll = CollectingNotifier()
        hub = NotificationHub()
        hub.register(coll)
        rules = RuleSet([Rule("p1", "t", "row_dq", "gt1", "col1", "col1 > 1",
                              action_if_failed="fail")])
        cfg = DQConfig(product_id="p1", table_name="t",
                       write_error_table=False, notifications=hub)
        with pytest.raises(Exception):
            DQEngine(cfg).run(simple3, rules, spark)
        assert [e for e, _ in coll.events] == ["failure"]

    def test_rule_threshold_breach(self, spark, simple3):
        coll = CollectingNotifier()
        hub = NotificationHub(NotificationRules())
        hub.register(coll)
        rules = RuleSet([Rule("p1", "t", "row_dq", "gt1", "col1", "col1 > 1",
                              enable_error_drop_alert=True,
                              error_drop_threshold=10)])
        cfg = DQConfig(product_id="p1", table_name="t",
                       write_error_table=False, notifications=hub)
        DQEngine(cfg).run(simple3, rules, spark)
        assert [e for e, _ in coll.events] == ["rule_threshold"]
        assert coll.events[0][1]["breaches"][0]["rule"] == "gt1"


class TestStreamingDQ:
    def test_row_dq_on_stream(self, spark, tmp_path):
        from spark_expectations_spark import WriterOptions
        src = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        df = src.selectExpr("value as id", "cast(value % 5 as int) as grade")
        rules = RuleSet([Rule("p1", "t", "row_dq", "grade_ok", "grade",
                              "grade < 4", action_if_failed="drop")])
        cfg = DQConfig(
            product_id="p1", table_name="t",
            write_error_table=True,
            error_writer=WriterOptions(
                path=str(tmp_path / "err"), format="parquet",
                checkpoint_location=str(tmp_path / "ckpt_e")),
            target_table="t_final",
            target_writer=WriterOptions(
                path=str(tmp_path / "out"), format="parquet",
                checkpoint_location=str(tmp_path / "ckpt_f")),
        )
        res = DQEngine(cfg).run(df, rules, spark)
        assert res.streaming_query is not None
        try:
            deadline = time.time() + 60
            target = None
            while time.time() < deadline:
                try:
                    target = spark.read.parquet(str(tmp_path / "out" / "t_final"))
                    if target.count() > 0:
                        break
                except Exception:
                    pass
                time.sleep(2)
            assert target is not None and target.count() > 0
            assert target.filter(F.col("grade") >= 4).count() == 0
        finally:
            for q in spark.streams.active:
                q.stop()

    def test_corpus_append_dedup_across_batches(self, spark, tmp_path):
        """Disk-indexed exact dedup: duplicates are rejected across batch
        boundaries and within a batch; the index grows by exactly the
        admitted fingerprints."""
        from spark_expectations_spark import streaming as st
        idx = str(tmp_path / "fp_index")
        out = str(tmp_path / "corpus")
        step = st.corpus_append_dedup(idx, "doc_id", out_path=out)
        b1 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "doc_id long, fingerprint string")
        b2 = spark.createDataFrame(
            [(4, "b"), (5, "c"), (6, "c")], "doc_id long, fingerprint string")
        step(b1, 0)
        step(b2, 1)
        corpus = sorted(r["doc_id"]
                        for r in spark.read.parquet(out).collect())
        assert corpus == [1, 2, 5]  # 3 dup-in-batch, 4 dup-cross-batch, 6 dup-in-batch
        fps = sorted(r["fingerprint"]
                     for r in spark.read.parquet(idx).collect())
        assert fps == ["a", "b", "c"]

    def test_bloom_membership_stream_across_batches(self, spark,
                                                    tmp_path):
        """Fixed-size membership state: cross-batch repeats flag
        seen_before=True, fresh keys False (never a false negative);
        a replayed batch re-annotates identically and the filter state
        stays idempotent (delta partitions OR-merge)."""
        from spark_expectations_spark import streaming as st
        fp = str(tmp_path / "bloom_words")
        out = str(tmp_path / "annotated")
        step = st.bloom_membership_stream(
            fp, "url", n_bits=4096, k=3, out_path=out)
        b1 = spark.createDataFrame(
            [(1, "a.com"), (2, "b.com")], "id long, url string")
        b2 = spark.createDataFrame(
            [(3, "a.com"), (4, "c.com")], "id long, url string")
        step(b1, 0)
        step(b2, 1)
        seen = {r["id"]: r["seen_before"]
                for r in spark.read.parquet(out).collect()}
        assert seen[3] is True          # a.com seen in batch 0
        assert seen[1] is False and seen[2] is False  # fresh in b1
        # c.com fresh -> almost surely False at this fill (guaranteed
        # only no-false-NEGATIVES; 4096 bits over 2 keys -> FPR ~1e-9)
        assert seen[4] is False
        # replay batch 1: identical annotation, no state duplication
        words_before = sorted(map(tuple, spark.read.parquet(fp)
                                  .groupBy("word").sum("bits")
                                  .collect()))
        step(b2, 1)
        seen2 = {r["id"]: r["seen_before"]
                 for r in spark.read.parquet(out).collect()}
        assert seen2 == seen
        words_after = sorted(map(tuple, spark.read.parquet(fp)
                                 .groupBy("word").sum("bits")
                                 .collect()))
        assert words_before == words_after

    def test_bloom_state_compaction_preserves_probes(self, spark,
                                                     tmp_path):
        """compact_bloom_state folds the per-batch delta partitions
        into one; every probe answers identically afterwards and the
        on-disk partition count drops to one."""
        from pyspark.sql import functions as F
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import sketches
        fp = str(tmp_path / "bloom_words")
        step = st.bloom_membership_stream(fp, "url", n_bits=2048, k=3)
        for i in range(4):
            step(spark.createDataFrame(
                [(i * 10 + j, f"u{i}-{j}.com") for j in range(5)],
                "id long, url string"), i)
        before = (spark.read.parquet(fp).groupBy("word")
                  .agg(F.bit_or("bits").alias("bits")))
        before_rows = sorted(map(tuple, before.collect()))
        n = st.compact_bloom_state(spark, fp)
        after = spark.read.parquet(fp)
        assert sorted(map(tuple, after.select("word", "bits")
                          .collect())) == before_rows
        assert after.select("_batch_id").distinct().count() == 1
        assert n == len(before_rows)
        probe = spark.createDataFrame(
            [(1, "u2-3.com"), (2, "never.com")], "id long, url string")
        got = {r["id"]: r["might_contain"] for r in
               sketches.bloom_might_contain(
                   after.select("word", "bits"), probe, "url",
                   n_bits=2048, k=3, salt="bloomstream").collect()}
        assert got[1] is True

    def test_incremental_bitmap_distinct_exact_across_batches(
            self, spark, tmp_path):
        """Streaming exact distinct: counts after N batches equal
        count(distinct) over their union, including cross-batch
        repeats; a replayed batch changes nothing (idempotent
        OR-merge + partition overwrite)."""
        from spark_expectations_spark import streaming as st
        state = str(tmp_path / "bm_state")
        step = st.incremental_bitmap_distinct(state, ["g"], "uid")
        b1 = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 1)], "g string, uid long")
        b2 = spark.createDataFrame(
            [("a", 2), ("a", 99999), ("b", 7)], "g string, uid long")
        step(b1, 0)
        step(b2, 1)
        got = {r["g"]: r["n_distinct"] for r in
               st.bitmap_distinct_counts(spark, state, ["g"]).collect()}
        assert got == {"a": 3, "b": 2}    # cross-batch repeat of (a,2)
        step(b2, 1)                       # foreachBatch retry/replay
        again = {r["g"]: r["n_distinct"] for r in
                 st.bitmap_distinct_counts(spark, state,
                                           ["g"]).collect()}
        assert again == got
        total = st.bitmap_distinct_counts(
            spark, state, []).first()["n_distinct"]
        assert total == 4                 # distinct uids overall
        # compaction: merged state answers identically, 1 partition
        compacted = str(tmp_path / "bm_compact")
        st.compact_bitmap_state(spark, state, compacted, ["g"])
        cgot = {r["g"]: r["n_distinct"] for r in
                st.bitmap_distinct_counts(spark, compacted,
                                          ["g"]).collect()}
        assert cgot == got
        state_df = spark.read.parquet(compacted)
        assert state_df.select("_batch_id").distinct().count() == 1

    def test_incremental_histogram_state_drifts_like_direct(
            self, spark, tmp_path):
        """Histogram state accumulated across batches (with a replay)
        must drift against a current frame exactly like drift_report on
        the concatenated raw batches."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import drift
        state = str(tmp_path / "hist_state")
        edges = {"v": [10.0, 20.0, 30.0]}
        step = st.incremental_histogram_state(state, edges)
        b1 = spark.createDataFrame(
            [(float(i),) for i in range(0, 20)], "v double")
        b2 = spark.createDataFrame(
            [(float(i),) for i in range(20, 40)], "v double")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                             # retry replaces, not adds
        cur = spark.createDataFrame(
            [(float((i * 7) % 40),) for i in range(30)], "v double")
        via_state = drift.drift_from_snapshot(
            spark.read.parquet(state), cur, edges).first()
        direct = drift.drift_report(b1.union(b2), cur, edges).first()
        for stat in ("psi", "ks", "jsd", "n_base", "n_cur"):
            assert via_state[stat] == pytest.approx(direct[stat]), stat
        # compaction: one partition, identical drift
        compacted = str(tmp_path / "hist_compact")
        st.compact_histogram_state(spark, state, compacted)
        cdf = spark.read.parquet(compacted)
        assert cdf.select("_batch_id").distinct().count() == 1
        via_compact = drift.drift_from_snapshot(cdf, cur, edges).first()
        for stat in ("psi", "ks", "jsd", "n_base", "n_cur"):
            assert via_compact[stat] == pytest.approx(direct[stat]), stat

    def test_incremental_quantile_state_answers_like_direct(
            self, spark, tmp_path):
        """Quantile cells accumulated across batches (with a replay)
        must answer exactly like a direct quantile_histogram build over
        the concatenated raw batches — the mergeable rollup's streaming
        contract."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import sketches
        state = str(tmp_path / "qh_state")
        edges = [10.0, 20.0, 30.0]
        step = st.incremental_quantile_state(state, "v", edges)
        b1 = spark.createDataFrame(
            [(float(i),) for i in range(0, 20)], "v double")
        b2 = spark.createDataFrame(
            [(float(i),) for i in range(20, 40)], "v double")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                         # retry replaces, not adds
        via_state = {r["q"]: r["est"] for r in st.quantile_state_quantiles(
            spark, state, [0.0, 0.5, 1.0]).collect()}
        direct = {r["q"]: r["est"] for r in sketches.histogram_quantiles(
            sketches.quantile_histogram(b1.union(b2), "v", edges),
            [0.0, 0.5, 1.0]).collect()}
        assert via_state == direct
        assert via_state[0.0] == 0.0 and via_state[1.0] == 39.0
        # compaction: one partition, identical answers
        compacted = str(tmp_path / "qh_compact")
        st.compact_quantile_state(spark, state, compacted)
        cdf = spark.read.parquet(compacted)
        assert cdf.select("_batch_id").distinct().count() == 1
        via_compact = {r["q"]: r["est"] for r in st.quantile_state_quantiles(
            spark, compacted, [0.0, 0.5, 1.0]).collect()}
        assert via_compact == direct

    def test_quantile_state_edge_report_and_reedge_parity(
            self, spark, tmp_path):
        """r13 verdict task 7: the edge-drift report exposes end-bin
        mass + exact observed lo/hi, and re-edge compaction onto a
        wider grid answers CELL FOR CELL like a direct build over the
        raw union with the new edges; an edge through a cell's
        occupied interior raises instead of approximating."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import sketches
        state = str(tmp_path / "qh_state2")
        edges = [10.0, 20.0, 30.0]
        step = st.incremental_quantile_state(state, "v", edges)
        b1 = spark.createDataFrame(
            [(float(i),) for i in range(0, 25)], "v double")
        b2 = spark.createDataFrame(          # drifted past the grid
            [(float(i),) for i in range(30, 80)], "v double")
        step(b1, 0)
        step(b2, 1)
        rep = st.quantile_state_edge_report(spark, state, edges).first()
        assert rep["n_total"] == 75 and rep["n_below"] == 10
        assert rep["n_above"] == 50          # 30..79 pool in the end bin
        assert rep["above_frac"] == pytest.approx(50 / 75)
        assert rep["observed_lo"] == 0.0 and rep["observed_hi"] == 79.0
        assert rep["edge_lo"] == 10.0 and rep["edge_hi"] == 30.0
        # re-edge onto old edges + new ones OUTSIDE occupied interiors:
        # 80 splits nothing (beyond observed_hi); 30 stays; 10/20 kept
        reedged = str(tmp_path / "qh_reedge")
        new_edges = [10.0, 20.0, 30.0, 80.0]
        st.reedge_quantile_state(spark, state, reedged, new_edges)
        cdf = spark.read.parquet(reedged)
        assert cdf.select("_batch_id").distinct().count() == 1
        direct = sketches.quantile_histogram(b1.union(b2), "v", new_edges)
        got = {r["bin"]: (r["n"], r["lo"], r["hi"])
               for r in cdf.select("bin", "n", "lo", "hi").collect()}
        want = {r["bin"]: (r["n"], r["lo"], r["hi"])
                for r in direct.collect()}
        assert got == want                   # cell-for-cell parity
        # an edge cutting the occupied [30, 79] end-bin interior raises
        with pytest.raises(ValueError, match="straddle"):
            st.reedge_quantile_state(
                spark, state, str(tmp_path / "bad"), [10.0, 50.0])

    def test_incremental_vocab_state_matches_batch(self, spark, tmp_path):
        """Streaming vocabulary counts accumulated across batches (with
        a replay) must diverge against a current frame exactly like a
        batch vocab_divergence over the concatenated raw batches."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import text as text_ops
        state = str(tmp_path / "vocab_state")
        step = st.incremental_vocab_state(state, "text")
        b1 = spark.createDataFrame([(1, "a a b"), (2, "c d")],
                                   "id int, text string")
        b2 = spark.createDataFrame([(3, "a e")], "id int, text string")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                         # retry replaces, not adds
        cur = spark.createDataFrame([(9, "a z z")], "id int, text string")
        via_state = st.vocab_divergence_from_state(
            spark, state, cur, "text").first()
        direct = text_ops.vocab_divergence(b1.union(b2), cur,
                                           "text").first()
        assert via_state.asDict() == direct.asDict()
        assert via_state["new_types"] == 1  # 'z'

    def test_incremental_moments_state_stats(self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        state = str(tmp_path / "mom_state")
        step = st.incremental_moments_state(state, "v",
                                            partition_cols=("g",))
        b1 = spark.createDataFrame([(1.0, "a"), (3.0, "a"), (10.0, "b")],
                                   "v double, g string")
        b2 = spark.createDataFrame([(5.0, "a"), (20.0, "b")],
                                   "v double, g string")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                         # replay
        got = {r["g"]: r for r in st.moments_state_stats(
            spark, state, group_cols=["g"]).collect()}
        assert got["a"]["n"] == 3 and got["a"]["mean"] == pytest.approx(3.0)
        assert got["a"]["variance"] == pytest.approx(
            (1 + 9 + 25) / 3 - 9.0)
        assert (got["b"]["lo"], got["b"]["hi"]) == (10.0, 20.0)

    def test_incremental_survival_state_matches_one_shot(
            self, spark, tmp_path):
        """r14 verdict task 5: two subject batches accumulated through
        the day-2 seam produce the SAME K-M curve as the one-shot over
        the union — integer time counts merge exactly — without
        rescanning batch 1."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import drift
        state = str(tmp_path / "km_state")
        step = st.incremental_survival_state(state, "dur", "e",
                                             group_cols=("cohort",))
        b1 = spark.createDataFrame(
            [("a", 1, 1), ("a", 2, 0), ("a", 2, 1), ("b", 1, 1)],
            "cohort string, dur int, e int")
        b2 = spark.createDataFrame(
            [("a", 3, 1), ("b", 1, 0), ("b", 2, 1)],
            "cohort string, dur int, e int")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                        # replay replaces, not adds
        key = lambda r: (r["cohort"], r["t"])  # noqa: E731
        got = {key(r): r for r in st.survival_from_state(
            spark, state, group_cols=("cohort",)).collect()}
        want = {key(r): r for r in drift.survival_curve(
            b1.union(b2), "dur", "e", group_cols=("cohort",)).collect()}
        assert set(got) == set(want)
        for k in want:
            for c in ("n_risk", "n_event", "n_censored"):
                assert got[k][c] == want[k][c], (k, c)
            assert got[k]["survival"] == pytest.approx(
                want[k]["survival"]), k

    def test_incremental_cusum_state_matches_one_shot(
            self, spark, tmp_path):
        """Bucket sums/counts accumulated per batch (a day's rows may
        straddle batches) re-merge to the one-shot change-point scan."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import drift
        state = str(tmp_path / "cusum_state")
        step = st.incremental_cusum_state(state, "day", "v",
                                          group_cols=("g",))
        rows1 = [("s", d, 1.0 + (25.0 if d >= 4 else 0.0))
                 for d in range(1, 7)]
        rows2 = [("s", d, 3.0 + (25.0 if d >= 4 else 0.0))
                 for d in range(1, 7)] + [("flat", d, 2.0)
                                          for d in range(1, 5)]
        b1 = spark.createDataFrame(rows1, "g string, day int, v double")
        b2 = spark.createDataFrame(rows2, "g string, day int, v double")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                        # replay
        got = {r["g"]: r for r in st.cusum_from_state(
            spark, state, group_cols=("g",)).collect()}
        want = {r["g"]: r for r in drift.cusum_change_point(
            b1.union(b2), "day", "v", group_cols=("g",)).collect()}
        assert set(got) == set(want)
        for g in want:
            assert got[g]["n_buckets"] == want[g]["n_buckets"]
            assert got[g]["change_at"] == want[g]["change_at"]
            for c in ("tmax", "mean_left", "mean_right"):
                if want[g][c] is None:
                    assert got[g][c] is None
                else:
                    assert got[g][c] == pytest.approx(want[g][c]), (g, c)
        assert want["s"]["change_at"] == 3  # the planted shift found

    def test_incremental_rank_state_matches_one_shot(
            self, spark, tmp_path):
        """r15 verdict task 6: Mann-Whitney value-bucket counts
        accumulated per batch (the SAME value straddles both batches,
        proving the re-collapse) SUM-merge to the one-shot test over
        the union, replay-safe."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import drift
        state = str(tmp_path / "rank_state")
        step = st.incremental_rank_state(state, "v", "side",
                                         group_cols=("g",))
        b1 = spark.createDataFrame(
            [("a", 1.0, 0), ("a", 2.0, 0), ("a", 2.0, 1), ("a", 5.0, 1),
             ("b", 1.0, 0), ("b", 9.0, 1)],
            "g string, v double, side int")
        b2 = spark.createDataFrame(
            [("a", 2.0, 1), ("a", 7.0, 1), ("a", 3.0, 0),
             ("b", 2.0, 0), ("b", 8.0, 1)],
            "g string, v double, side int")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                        # replay replaces, not adds
        got = {r["g"]: r for r in st.mann_whitney_from_state(
            spark, state, group_cols=("g",)).collect()}
        want = {r["g"]: r for r in drift.mann_whitney_u(
            b1.union(b2), "v", "side", group_cols=("g",)).collect()}
        assert set(got) == set(want)
        for g in want:
            assert (got[g]["n1"], got[g]["n2"]) == \
                (want[g]["n1"], want[g]["n2"]), g
            for c in ("u", "cliffs_delta", "z", "p_value"):
                if want[g][c] is None:
                    assert got[g][c] is None, (g, c)
                else:
                    assert got[g][c] == pytest.approx(want[g][c]), (g, c)

    def test_incremental_trend_state_matches_one_shot(
            self, spark, tmp_path):
        """Cochran-Armitage scored-bucket counts straddling batches
        SUM-merge to the one-shot trend test, replay-safe."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import drift
        state = str(tmp_path / "trend_state")
        step = st.incremental_trend_state(state, "week", "bad",
                                          group_cols=("g",))
        rows1 = [("up", w, 1 if i < w else 0)
                 for w in range(1, 5) for i in range(4)]
        rows2 = [("up", w, 1 if i < w else 0)
                 for w in range(1, 5) for i in range(2)] + \
                [("flat", w, i % 2) for w in range(1, 4) for i in range(4)]
        b1 = spark.createDataFrame(rows1, "g string, week int, bad int")
        b2 = spark.createDataFrame(rows2, "g string, week int, bad int")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                        # replay
        got = {r["g"]: r for r in st.cochran_armitage_from_state(
            spark, state, group_cols=("g",)).collect()}
        want = {r["g"]: r for r in drift.cochran_armitage_trend(
            b1.union(b2), "week", "bad", group_cols=("g",)).collect()}
        assert set(got) == set(want)
        for g in want:
            assert (got[g]["n"], got[g]["n_flag"], got[g]["n_buckets"],
                    got[g]["slope_sign"]) == \
                (want[g]["n"], want[g]["n_flag"], want[g]["n_buckets"],
                 want[g]["slope_sign"]), g
            for c in ("z", "p_value"):
                if want[g][c] is None:
                    assert got[g][c] is None, (g, c)
                else:
                    assert got[g][c] == pytest.approx(want[g][c]), (g, c)
        assert want["up"]["slope_sign"] == 1   # the planted trend

    def test_incremental_benford_state_matches_one_shot(
            self, spark, tmp_path):
        """Digit counts merge exactly → the day-2 Benford audit is
        bit-identical to the one-shot over the union."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import profiling
        state = str(tmp_path / "ben_state")
        step = st.incremental_benford_state(state, "v",
                                            group_cols=("g",))
        b1 = spark.createDataFrame(
            [("a", float(v)) for v in (12, 13, 25, 0.5, 900)]
            + [("b", 7.0)], "g string, v double")
        b2 = spark.createDataFrame(
            [("a", float(v)) for v in (14, 31, 170)], "g string, v double")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                        # replay
        got = {r["g"]: r for r in st.benford_from_state(
            spark, state, group_cols=("g",)).collect()}
        want = {r["g"]: r for r in profiling.benford_report(
            b1.union(b2), "v", group_cols=("g",)).collect()}
        assert set(got) == set(want)
        for g in want:
            assert got[g].asDict() == want[g].asDict(), g
        assert want["a"]["n"] == 7        # 0.5 dropped by contract

    def test_incremental_null_profile_schema_drift(self, spark, tmp_path):
        """Per-column row/null counts accumulated per batch merge into
        a profile whose drift report equals schema_drift_report over
        the live union — and a later producer version drifts against
        the STORED profile without rescanning day 1."""
        from spark_expectations_spark import streaming as st
        from spark_expectations_spark.operators import profiling
        state = str(tmp_path / "np_state")
        step = st.incremental_null_profile_state(state)
        b1 = spark.createDataFrame(
            [(1, 1.0, "x"), (2, None, None)],
            "id long, price double, tag string")
        b2 = spark.createDataFrame(
            [(3, None, "y")], "id long, price double, tag string")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                        # replay
        prof = st.null_profile_from_state(spark, state)
        v2 = spark.createDataFrame(
            [(4, "s", 7)], "id long, price string, rank int")
        got = {r["column"]: r for r in profiling.schema_drift_from_profiles(
            prof, profiling.null_profile_snapshot(v2)).collect()}
        want = {r["column"]: r for r in profiling.schema_drift_report(
            b1.union(b2), v2).collect()}
        assert set(got) == set(want)
        for c in want:
            assert got[c].asDict() == want[c].asDict(), c
        assert got["price"]["type_changed"] is True
        assert got["price"]["null_frac_base"] == pytest.approx(2 / 3)
        assert got["rank"]["status"] == "added"
        assert got["tag"]["status"] == "removed"

    def test_compact_additive_state_preserves_answers(
            self, spark, tmp_path):
        """The generic additive compactor collapses a thousand-batch
        state dir to one partition; every reader answers identically
        off the compacted dir (its merge is the same SUM)."""
        from spark_expectations_spark import streaming as st
        state = str(tmp_path / "ben_state2")
        step = st.incremental_benford_state(state, "v", group_cols=("g",))
        b1 = spark.createDataFrame(
            [("a", 12.0), ("a", 25.0), ("b", 7.0)], "g string, v double")
        b2 = spark.createDataFrame(
            [("a", 14.0), ("a", 170.0)], "g string, v double")
        step(b1, 0)
        step(b2, 1)
        before = {r["g"]: r for r in st.benford_from_state(
            spark, state, group_cols=("g",)).collect()}
        compacted = str(tmp_path / "ben_compact")
        st.compact_additive_state(spark, state, compacted,
                                  ("g", "_d"), ("_c",))
        cdf = spark.read.parquet(compacted)
        assert cdf.select("_batch_id").distinct().count() == 1
        after = {r["g"]: r for r in st.benford_from_state(
            spark, compacted, group_cols=("g",)).collect()}
        assert {g: r.asDict() for g, r in after.items()} \
            == {g: r.asDict() for g, r in before.items()}
        # carry_cols path: the null profile keeps dtype by MAX
        prof_state = str(tmp_path / "np_state2")
        pstep = st.incremental_null_profile_state(prof_state)
        pstep(b1, 0)
        pstep(b2, 1)
        pcompact = str(tmp_path / "np_compact")
        st.compact_additive_state(spark, prof_state, pcompact,
                                  ("column",), ("n_rows", "n_nulls"),
                                  carry_cols=("dtype",))
        a = {r["column"]: r.asDict() for r in
             st.null_profile_from_state(spark, pcompact).collect()}
        b = {r["column"]: r.asDict() for r in
             st.null_profile_from_state(spark, prof_state).collect()}
        assert a == b

    def test_corpus_append_dedup_retry_is_idempotent(self, spark, tmp_path):
        """A replayed batch (foreachBatch retry after a mid-batch failure)
        must REPLACE its own output, not append a second copy — the
        dynamic-partition-overwrite exactly-once contract. Covers both
        retry orders: index committed but out_path not (worst case: the
        naive append design re-admits nothing and LOSES rows; ours
        re-admits deterministically), and full replay after success."""
        from spark_expectations_spark import streaming as st
        idx = str(tmp_path / "fp_index")
        out = str(tmp_path / "corpus")
        step = st.corpus_append_dedup(idx, "doc_id", out_path=out)
        b1 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, fingerprint string")
        b2 = spark.createDataFrame(
            [(4, "b"), (5, "c")], "doc_id long, fingerprint string")
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)  # replay batch 1 (e.g. failure after commit, retry)
        corpus = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert corpus == [1, 2, 5]  # no duplicate 5, no lost row
        fps = sorted(r["fingerprint"] for r in spark.read.parquet(idx).collect())
        assert fps == ["a", "b", "c"]
        # next batch still dedups against the full index
        b3 = spark.createDataFrame(
            [(7, "c"), (8, "d")], "doc_id long, fingerprint string")
        step(b3, 2)
        corpus = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert corpus == [1, 2, 5, 8]

    def test_foreach_batch_full_dq(self, spark, tmp_path):
        from spark_expectations_spark.streaming import foreach_batch_dq
        src = spark.readStream.format("rate").option("rowsPerSecond", "200").load()
        df = src.selectExpr("value as id", "cast(value % 10 as int) as grade")
        rules = RuleSet([
            Rule("p1", "t", "row_dq", "grade_ok", "grade", "grade < 8",
                 action_if_failed="drop"),
            Rule("p1", "t", "agg_dq", "cnt", "", "count(*) >= 0"),
        ])
        cfg = DQConfig(product_id="p1", table_name="t", write_error_table=False)
        results = {}
        q = foreach_batch_dq(
            df, rules, cfg,
            on_result=lambda bid, res: results.setdefault(bid, res),
            checkpoint_location=str(tmp_path / "ckpt"))
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if any(r.input_count > 0 for r in results.values()):
                    break
                time.sleep(2)
            good = [r for r in results.values() if r.input_count > 0]
            assert good, "no non-empty micro-batch arrived"
            r = good[0]
            assert r.source_agg and r.source_agg[0].status == "pass"
            assert r.output_count <= r.input_count
        finally:
            q.stop()

    def test_streaming_dedup_within_watermark(self, spark):
        from spark_expectations_spark.streaming import streaming_dedup
        src = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
        # key space of 20 → every key repeats; dedup keeps one per key
        df = src.selectExpr("value % 20 as k", "timestamp as ts")
        deduped = streaming_dedup(df, ("k",), ts_col="ts", watermark="1 hour")
        q = (deduped.writeStream.format("memory")
             .queryName("dedup_sink").outputMode("append").start())
        try:
            deadline = time.time() + 60
            n = 0
            while time.time() < deadline:
                n = spark.sql("select count(*) c from dedup_sink").first()["c"]
                if n >= 5:
                    break
                time.sleep(2)
            assert n >= 5
            dups = spark.sql(
                "select k, count(*) c from dedup_sink group by k having count(*) > 1"
            ).count()
            assert dups == 0, "watermarked dedup emitted a duplicate key"
        finally:
            for query in spark.streams.active:
                query.stop()

    def test_windowed_topk_stream(self, spark, tmp_path):
        """Streaming windowed top-k: stateful tumbling counts on the
        stream + per-micro-batch rank; ranked output respects k and has
        contiguous ranks per window."""
        from spark_expectations_spark.streaming import windowed_topk
        src = (spark.readStream.format("rate")
               .option("rowsPerSecond", "500").load()
               .selectExpr("timestamp as ts",
                           "cast(value % 5 as string) as key"))
        seen = []

        def sink(ranked, batch_id):
            seen.extend((batch_id, r) for r in ranked.collect())

        q = windowed_topk(
            src, "ts", "key", k=2, window="2 seconds",
            watermark="0 seconds", sink=sink,
            checkpoint_location=str(tmp_path / "ck_topk"))
        try:
            deadline = time.time() + 90
            while time.time() < deadline and not seen:
                time.sleep(2)
            assert seen, "no ranked micro-batch output"
            # complete mode: every batch carries each window's FULL
            # ranking, so per (batch, window) ranks are contiguous 1..n
            by_bw = {}
            for bi, r in seen:
                assert 1 <= r["rk"] <= 2
                by_bw.setdefault((bi, r["window_start"]), set()).add(r["rk"])
            for rks in by_bw.values():
                assert rks == set(range(1, len(rks) + 1))
        finally:
            q.stop()

    def test_windowed_topk_append_bounded_state(self, spark, tmp_path):
        """Append-mode twin (round-4 verdict item 5): each window's
        top-k is emitted exactly ONCE (at watermark finalization) with
        contiguous ranks, and the state store provably EVICTS expired
        windows (numRowsRemoved > 0; total state stays bounded by the
        in-flight horizon instead of growing with every window seen)."""
        from spark_expectations_spark.streaming import windowed_topk_append
        src = (spark.readStream.format("rate")
               .option("rowsPerSecond", "500").load()
               .selectExpr("timestamp as ts",
                           "cast(value % 5 as string) as key"))
        seen = []

        def sink(ranked, batch_id):
            seen.extend((batch_id, r) for r in ranked.collect())

        q = windowed_topk_append(
            src, "ts", "key", k=2, window="2 seconds",
            watermark="0 seconds", sink=sink,
            checkpoint_location=str(tmp_path / "ck_topk_app"))
        def max_removed() -> int:
            # scan recentProgress, not lastProgress: eviction happens in
            # ~1 of 4 micro-batches (the expire batch is also the
            # fastest), and 2s lastProgress polling phase-locks onto the
            # longer non-evicting batches — reproducibly missing every
            # rm>0 batch under suite load
            best = 0
            for p in q.recentProgress:
                if p.get("stateOperators"):
                    best = max(best,
                               p["stateOperators"][0]["numRowsRemoved"])
            return best

        try:
            # generous deadline: under full-suite load the first windows
            # can take a couple of minutes to finalize on local[4]
            deadline = time.time() + 240
            removed = 0
            while time.time() < deadline:
                windows = {r["window_start"] for _, r in seen}
                removed = max(removed, max_removed())
                if len(windows) >= 3 and removed > 0:
                    break
                time.sleep(2)
            assert len({r["window_start"] for _, r in seen}) >= 3
            # eviction actually happened — the long-running-stream claim
            assert removed > 0, "no state rows evicted"
            # append semantics: a window finalizes in exactly one batch,
            # with a complete contiguous ranking
            win_batches, by_w = {}, {}
            for bi, r in seen:
                assert 1 <= r["rk"] <= 2
                win_batches.setdefault(r["window_start"], set()).add(bi)
                by_w.setdefault(r["window_start"], set()).add(r["rk"])
            assert all(len(b) == 1 for b in win_batches.values()), \
                "a window's ranking spanned micro-batches"
            for rks in by_w.values():
                assert rks == set(range(1, len(rks) + 1))
            # bounded state: far fewer rows than (windows ever seen × keys)
            p = q.lastProgress
            total = p["stateOperators"][0]["numRowsTotal"]
            assert total <= 5 * (len(win_batches) + 2)
        finally:
            q.stop()

    def test_session_counts_append_emits_finalized_sessions(
            self, spark, tmp_path):
        """Native streaming session windows: rate values are shaped
        into 10-event bursts one hour apart (gap 30s), so each
        (burst, key) is one finalized session of 5 events, emitted
        exactly once when the next burst's event time moves the
        watermark past the session end."""
        import time
        from spark_expectations_spark.streaming import session_counts

        src = (spark.readStream.format("rate")
               .option("rowsPerSecond", "500").load()
               .selectExpr(
                   "timestamp '2026-01-01 00:00:00'"
                   " + (value div 10) * INTERVAL 1 HOUR"
                   " + (value % 10) * INTERVAL 1 SECOND as ts",
                   "cast(value % 2 as string) as key"))
        sess = session_counts(src, "ts", "key", gap="30 seconds",
                              watermark="0 seconds")
        seen = []
        q = (sess.writeStream.outputMode("append")
             .foreachBatch(lambda b, i: seen.extend(b.collect()))
             .option("checkpointLocation", str(tmp_path / "ck_sess"))
             .start())
        try:
            deadline = time.time() + 240
            while time.time() < deadline and len(seen) < 6:
                time.sleep(2)
            assert len(seen) >= 6, "no finalized sessions emitted"
            for r in seen:
                assert r["n_events"] == 5          # 5 events per key/burst
                assert r["session_start"] < r["session_end"]
                # session end = last event + gap (session_window contract)
                span = (r["session_end"] - r["session_start"]).total_seconds()
                assert span == pytest.approx(8 + 30)  # secs 1..9 step2 + gap
            # emitted exactly once per (key, session_start)
            keys = [(r["key"], r["session_start"]) for r in seen]
            assert len(keys) == len(set(keys))
        finally:
            q.stop()

    def test_windowed_topk_append_feeds_dq_engine_end_to_end(
            self, spark, tmp_path):
        """r5 verdict item 7: windowed_topk_append and the DQ engine
        existed separately — this wires them: each FINALIZED per-window
        ranking batch flows through the full batch DQ engine (row rules
        with drop semantics, target-table write) inside the stream's
        sink, wrapped in idempotent_foreach_batch for exactly-once
        across replays. The streaming operator's append contract is
        what makes this sound: a window's complete ranking arrives in
        one batch, so batch DQ counts are per-window-complete."""
        import time
        from spark_expectations_spark import (
            DQConfig, DQEngine, Rule, RuleSet, WriterOptions)
        from spark_expectations_spark.streaming import (
            idempotent_foreach_batch, windowed_topk_append)

        src = (spark.readStream.format("rate")
               .option("rowsPerSecond", "500").load()
               .selectExpr("timestamp as ts",
                           "cast(value % 5 as string) as key"))
        rules = RuleSet([
            Rule("p1", "topk", "row_dq", "n_pos", "n_events",
                 "n_events > 0", action_if_failed="drop"),
            Rule("p1", "topk", "row_dq", "rk_bound", "rk",
                 "rk between 1 and 2", action_if_failed="fail"),
        ])
        # write_batch saves to {path}/{table}
        target = str(tmp_path / "topk_gated")
        cfg = DQConfig(
            product_id="p1", table_name="topk",
            write_error_table=False,
            target_table="topk_gated",
            target_writer=WriterOptions(path=str(tmp_path), mode="append",
                                        format="parquet"))
        engine = DQEngine(cfg)
        outcomes = []

        def dq_sink(ranked, batch_id):
            res = engine.run(ranked, rules, ranked.sparkSession)
            outcomes.append((batch_id, res.input_count, res.output_count))

        spark.sql("DROP TABLE IF EXISTS topk_e2e_state")
        spark.sql("CREATE TABLE topk_e2e_state (dummy INT) USING parquet")
        q = windowed_topk_append(
            src, "ts", "key", k=2, window="2 seconds",
            watermark="0 seconds",
            sink=idempotent_foreach_batch(
                dq_sink, "topk_e2e_state", stream_id="topk_e2e"),
            checkpoint_location=str(tmp_path / "ck_topk_dq"))
        try:
            deadline = time.time() + 240
            while time.time() < deadline:
                if sum(n for _, n, _ in outcomes) >= 4:
                    break
                time.sleep(2)
            ran = [o for o in outcomes if o[1] > 0]
            assert ran, "no finalized window ever reached the DQ engine"
            # the gate passed: nothing dropped (counts consistent) and
            # the target table holds only rule-satisfying rankings
            assert all(n_in == n_out for _, n_in, n_out in ran)
            got = spark.read.parquet(target)
            assert got.count() == sum(n for _, n, _ in ran)
            assert got.filter("rk < 1 or rk > 2 or n_events <= 0").count() == 0
            # the clean target carries the ranking schema, no DQ meta
            # columns (those belong to the error table)
            assert set(got.columns) == {"window_start", "window_end",
                                        "key", "n_events", "rk"}
        finally:
            q.stop()
            spark.sql("DROP TABLE IF EXISTS topk_e2e_state")

    def test_stream_stream_join_with_watermark(self, spark):
        """Inner stream-stream join emits eagerly (no watermark wait);
        the watermark+range bound exists to let state evict."""
        from spark_expectations_spark.streaming import stream_stream_join
        clicks = (spark.readStream.format("rate")
                  .option("rowsPerSecond", "200").load()
                  .selectExpr("value as k", "timestamp as c_ts"))
        views = (spark.readStream.format("rate")
                 .option("rowsPerSecond", "200").load()
                 .selectExpr("value as k", "timestamp as v_ts"))
        joined = stream_stream_join(
            clicks, views, on="k", left_ts="c_ts", right_ts="v_ts",
            watermark="1 hour", within="1 hour")
        assert joined.isStreaming
        q = (joined.writeStream.format("memory")
             .queryName("ssj_sink").outputMode("append").start())
        try:
            deadline = time.time() + 90
            n = 0
            while time.time() < deadline:
                n = spark.sql("select count(*) c from ssj_sink").first()["c"]
                if n >= 10:
                    break
                time.sleep(2)
            assert n >= 10, "stream-stream join produced no matches"
            # equi-key correctness: both sides carry the same k
            bad = spark.sql(
                "select count(*) c from ssj_sink "
                "where abs(cast(c_ts as double) - cast(v_ts as double)) > 3600"
            ).first()["c"]
            assert bad == 0
        finally:
            for query in spark.streams.active:
                query.stop()

    def test_stateful_threshold_monitor(self, spark):
        from spark_expectations_spark.streaming import stateful_threshold_monitor
        src = spark.readStream.format("rate").option("rowsPerSecond", "400").load()
        # every other row fails; 2 keys accumulate failures fast.
        # STRING keys: the DQ-typical grouping column — the output schema
        # must mirror the input key type, not assume long (r5 review fix)
        df = src.selectExpr(
            "cast(value % 2 as string) as k",
            "cast(value % 2 = 0 as boolean) as failed")
        alerts = stateful_threshold_monitor(df, "k", "failed", threshold=50)
        q = (alerts.writeStream.format("memory")
             .queryName("alert_sink").outputMode("update").start())
        try:
            deadline = time.time() + 90
            rows = []
            while time.time() < deadline:
                rows = spark.sql("select * from alert_sink").collect()
                if rows:
                    break
                time.sleep(2)
            assert rows, "threshold crossing never emitted"
            # only key "0" has failed=true rows; it crosses exactly once
            assert all(r["k"] == "0" for r in rows)
            assert len(rows) == 1
            assert rows[0]["total_failed"] >= 50
        finally:
            for query in spark.streams.active:
                query.stop()


class TestSparkConnectStyle:
    """The reference supports Spark Connect via a type-alias union
    (core/expectations.py:43-72) and isinstance-free code. Our engine's
    equivalent guarantee: JVM-internal escapes (_jdf/_jvm/_jsc/
    sparkContext) appear ONLY in the allowlisted spots below, each of
    which carries a documented Connect fallback (fan_out degrades to
    no-repartition; similarity broadcasts degrade to closure capture)."""

    ALLOWED = {
        "connect.py",               # THE seam: jvm_query_execution /
                                    # spark_context return None under
                                    # Connect; every other site routes
                                    # through these two accessors
        "plans/__init__.py",        # fan_out partition probe (guarded
                                    # try/except around .rdd; size +
                                    # metrics route through connect.py)
        "operators/similarity.py",  # _broadcast_or_capture via
                                    # connect.spark_context
        "operators/query_dq.py",    # _run_with_timeout job-tag
                                    # watchdog via connect.spark_context
                                    # (Connect runs without a budget)
        "sinks/layout.py",          # _hadoop_fs pointer-flip client via
                                    # connect.spark_context (raises a
                                    # clear NotImplementedError under
                                    # Connect)
    }

    def test_jvm_internals_only_in_guarded_spots(self):
        """Connect-safety enforcement (VERDICT r03 item 5): a bare
        ``df.rdd`` / ``spark.sparkContext`` / py4j ``_jvm`` access added
        outside the two guarded fallbacks fails this test — the
        "Connect-safe" claim is a scan, not a docstring. Docstring/comment
        mentions are exempt (code lines only)."""
        import pathlib
        import re
        root = pathlib.Path("spark_expectations_spark")
        pat = re.compile(
            r"\b_jdf\b|\b_jvm\b|\b_jsc\b|\bsparkContext\b|\._sc\b|\.rdd\b")
        offenders = []
        for p in root.rglob("*.py"):
            rel = str(p.relative_to(root))
            hits = []
            in_doc = False
            for ln in p.read_text().splitlines():
                stripped = ln.strip()
                # crude but sufficient docstring tracker: our files use
                # triple-double quotes exclusively
                quotes = stripped.count('"""')
                if in_doc:
                    if quotes:
                        in_doc = False
                    continue
                if quotes == 1:
                    in_doc = True
                    continue
                if quotes >= 2:  # one-line docstring
                    continue
                if pat.search(ln) and not stripped.startswith("#"):
                    hits.append(ln)
            if hits and rel not in self.ALLOWED:
                offenders.append((rel, hits[:2]))
        assert not offenders, offenders

    def test_no_isinstance_on_dataframe_types(self):
        """No isinstance checks against classic DataFrame/SparkSession
        classes — the Connect incompatibility the reference solved with
        union type aliases; we just never type-switch."""
        import pathlib
        import re
        root = pathlib.Path("spark_expectations_spark")
        pat = re.compile(r"isinstance\([^)]*(DataFrame|SparkSession)")
        offenders = [str(p) for p in root.rglob("*.py")
                     if pat.search(p.read_text())]
        assert not offenders, offenders


class TestPlanLint:
    def test_cartesian_product_is_error(self, spark):
        a = spark.range(10)
        b = spark.range(10).withColumnRenamed("id", "id2")
        prev = spark.conf.get("spark.sql.crossJoin.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = a.crossJoin(b)
            rules = {f["rule"]: f["severity"] for f in plans.plan_lint(j)}
            assert rules.get("cartesian-product") in ("error", "warn")
            with pytest.raises(AssertionError, match="cartesian"):
                plans.assert_plan_clean(j, max_severity="warn")
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.crossJoin.enabled", prev)

    def test_broadcast_nested_loop_is_warn(self, spark):
        """Small-side cross joins plan as BroadcastNestedLoopJoin (the
        formatted layout puts the join type BEFORE the build side) —
        must surface at warn."""
        a = spark.range(50)
        b = spark.range(3).withColumnRenamed("id", "id2")
        j = a.crossJoin(F.broadcast(b))
        found = [f for f in plans.plan_lint(j)
                 if f["rule"] == "cartesian-product"]
        assert found and found[0]["severity"] == "warn"
        assert "BroadcastNestedLoopJoin" in found[0]["detail"]

    def test_scalar_stats_broadcast_cross_demotes_to_info(self, spark):
        """r8 verdict task 6: a crossJoin against a broadcast 1-ROW
        aggregate (grand-total / scalar-subquery stats frame) is the
        correct plan and must NOT drown real cartesians — it reports
        as info 'broadcast-1row-cross', while a corpus × corpus
        broadcast cross stays warn (previous test)."""
        a = spark.range(500).toDF("x")
        tot = spark.range(500).agg(F.sum("id").alias("s"))
        j = a.crossJoin(F.broadcast(tot))
        rules = {f["rule"]: f["severity"] for f in plans.plan_lint(j)}
        assert "cartesian-product" not in rules
        assert rules.get("broadcast-1row-cross") == "info"
        # the strict warn gate now passes for the scalar-stats shape
        plans.assert_plan_clean(
            j, max_severity="warn", allow=("single-partition-exchange",))
        # ...and a keyless agg that is then re-EXPANDED is not scalar
        blown = a.crossJoin(F.broadcast(
            tot.select(F.explode(F.array(F.lit(1), F.lit(2))).alias("e"))))
        rules2 = {f["rule"]: f["severity"]
                  for f in plans.plan_lint(blown)}
        assert rules2.get("cartesian-product") == "warn"

    def test_row_python_udf_is_error(self, spark):
        from pyspark.sql.types import IntegerType
        inc = F.udf(lambda x: x + 1, IntegerType())     # test-only smell
        df = spark.range(5).select(inc("id").alias("v"))
        found = {f["rule"] for f in plans.plan_lint(df)
                 if f["severity"] == "error"}
        assert "python-row-udf" in found
        with pytest.raises(AssertionError, match="python-row-udf"):
            plans.assert_plan_clean(df)

    def test_single_partition_window_is_warn(self, spark, lineitem):
        from pyspark.sql import Window
        w = Window.orderBy("l_orderkey")            # no partitionBy
        df = lineitem.withColumn("rn", F.row_number().over(w))
        sev = {f["rule"]: f["severity"] for f in plans.plan_lint(df)}
        assert sev.get("single-partition-exchange") == "warn"
        # errors-only gate still passes; strict gate trips
        plans.assert_plan_clean(df)
        with pytest.raises(AssertionError, match="single-partition"):
            plans.assert_plan_clean(df, max_severity="warn")

    def test_unpushable_filter_is_warn(self, spark, lineitem):
        df = lineitem.filter(
            F.upper(F.col("l_returnflag")) == "A").select("l_orderkey")
        sev = {f["rule"]: f["severity"] for f in plans.plan_lint(df)}
        assert sev.get("filter-not-pushed") == "warn"

    def test_clean_plan_passes_and_reports_info(self, spark, lineitem,
                                                orders):
        small = orders.limit(100)
        df = (lineitem.filter(F.col("l_quantity") > 10)
              .join(F.broadcast(small),
                    lineitem["l_orderkey"] == small["o_orderkey"])
              .groupBy("l_returnflag")
              .agg(F.sum("l_extendedprice").alias("rev")))
        findings = plans.assert_plan_clean(df)
        assert all(f["severity"] != "error" for f in findings)
        assert any(f["rule"] == "shuffles" for f in findings)
        # allow-list lets a deliberate smell through the strict gate
        w_df = lineitem.withColumn(
            "rn", F.row_number().over(
                __import__("pyspark.sql", fromlist=["Window"])
                .Window.orderBy("l_orderkey")))
        plans.assert_plan_clean(
            w_df, max_severity="warn",
            allow=("single-partition-exchange", "filter-not-pushed"))


class TestSessionProfiles:
    def test_profiles_and_builder_application(self):
        from pyspark.sql import SparkSession

        from spark_expectations_spark import session as se
        local = se.scale_confs("local-dev", total_cores=4)
        assert local["spark.sql.shuffle.partitions"] == "4"
        big = se.scale_confs("cluster-large", total_cores=2000,
                             target_partition_mb=128)
        assert big["spark.sql.shuffle.partitions"] == "4000"
        assert big["spark.sql.files.maxPartitionBytes"] == "128m"
        assert big["spark.sql.adaptive.skewJoin.enabled"] == "true"
        for confs in (local, big):
            assert int(confs["spark.sql.codegen.cache.maxEntries"]) >= 1000
        b = se.configure(SparkSession.builder, local)
        assert b is not None                     # chainable
        import pytest as _pytest
        with _pytest.raises(ValueError, match="total_cores"):
            se.scale_confs("cluster-large")
        with _pytest.raises(ValueError, match="unknown profile"):
            se.scale_confs("exotic")

    def test_warm_pass_reuses_generated_classes(self, tmp_path):
        """The cache size is a static conf, so the profile is applied to
        a fresh session in its own JVM. A pass over these two entries
        needs ~200 generated classes, more than Spark's default cache of
        100 holds; the second pass must find them cached. At the
        default size it recompiles ~96 % of them. With the profile a
        warm pass still compiles 8-41 classes, varying run to run (plans
        that AQE re-optimizes differently, per-run literals), so the
        bound is a third of the cold pass, not zero."""
        import os
        import subprocess
        import sys
        import textwrap

        entries = ("docs_dedup_pipeline", "docs_weighted_cosine")
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = tmp_path / "warm_pass.py"
        script.write_text(textwrap.dedent(f"""
            import json, sys
            sys.path.insert(0, {root!r})
            from pyspark.sql import SparkSession
            from spark_expectations_spark.queries import QUERIES
            from spark_expectations_spark.session import (configure,
                                                          scale_confs)
            spark = configure(SparkSession.builder.master("local[2]"),
                              scale_confs("local-dev", total_cores=2)
                              ).getOrCreate()
            try:
                compiles = (spark.sparkContext._jvm.org.apache.spark
                            .metrics.source.CodegenMetrics
                            .METRIC_COMPILATION_TIME())
                counts = []
                for _ in range(2):
                    c0 = compiles.getCount()
                    for name in {entries!r}:
                        (QUERIES[name](spark, {SF_DIR!r}).write
                         .format("noop").mode("overwrite").save())
                    spark.catalog.clearCache()
                    counts.append(compiles.getCount() - c0)
                print("COMPILES " + json.dumps(counts))
            finally:
                spark.stop()
        """))
        proc = subprocess.run([sys.executable, str(script)],
                              capture_output=True, text=True, timeout=600,
                              cwd=str(tmp_path))
        lines = [ln for ln in proc.stdout.splitlines()
                 if ln.startswith("COMPILES ")]
        assert proc.returncode == 0 and lines, proc.stderr[-3000:]
        cold, warm = json.loads(lines[-1].split(" ", 1)[1])
        assert cold > 100, (cold, warm)
        assert 3 * warm <= cold, (cold, warm)

    def test_spread_scan_widens_narrow_and_noops_wide(self, spark,
                                                      tmp_path):
        """Scan-parallelism guard (SCALE.md): a one-row-group parquet
        scans as ONE partition and gets repartitioned to the target;
        a frame already at/above the target passes through
        unchanged (the 100 TB no-op contract)."""
        from spark_expectations_spark import session as se
        p = str(tmp_path / "narrow.parquet")
        spark.range(1000).coalesce(1).write.parquet(p)
        narrow = spark.read.parquet(p)
        assert narrow.rdd.getNumPartitions() == 1
        out = se.spread_scan(narrow, spark, min_partitions=8)
        assert out.rdd.getNumPartitions() == 8
        assert out.count() == 1000
        wide = spark.range(1000).repartition(8)
        same = se.spread_scan(wide, spark, min_partitions=8)
        assert same is wide                      # not even re-planned
        # default target = defaultParallelism
        out2 = se.spread_scan(narrow, spark)
        assert (out2.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)


class TestLocalFrameLiteralCap:
    """``plans.local_frame`` counts every literal node a cell becomes:
    each leaf of a nested array, a key and a value per map entry. Both
    frames below are under the 128 cap when a cell counts only its
    top-level length, and over it counted in full."""

    @pytest.mark.parametrize("rows,schema", [
        ([(i, [[float(i)] * 8] * 8) for i in range(4)],
         "k int, v array<array<double>>"),
        ([(i, {f"k{j}": j for j in range(20)}) for i in range(4)],
         "k int, v map<string, int>"),
    ], ids=["nested_array", "map"])
    def test_nested_payload_falls_back_to_create_dataframe(
            self, spark, rows, schema):
        df = plans.local_frame(spark, rows, schema)
        txt = plans.plan_text(df)
        assert "Scan ExistingRDD" in txt or "LocalTableScan" in txt
        want = spark.createDataFrame(rows, schema).orderBy("k").collect()
        assert df.orderBy("k").collect() == want

    def test_small_map_frame_matches_create_dataframe(self, spark):
        """A map cell under the cap still builds (``F.lit`` has no map
        literal), with createDataFrame's rows."""
        rows = [(1, {"a": 1.0}), (2, {"b": 2.0, "c": None})]
        schema = "id int, m map<string,double>"
        got = plans.local_frame(spark, rows, schema).orderBy("id").collect()
        assert got == spark.createDataFrame(rows, schema) \
            .orderBy("id").collect()


class TestLocalFrame:
    """r16: plans.local_frame — driver-rows spec tables as literal
    relations (no Python-RDD scan stage) with the measured size cap."""

    def test_matches_createdataframe(self, spark):
        from pyspark.sql.types import (DoubleType, LongType, StringType,
                                       StructField, StructType)
        from spark_expectations_spark.plans import local_frame
        schema = StructType([StructField("s", StringType()),
                             StructField("n", LongType()),
                             StructField("x", DoubleType())])
        rows = [("a", 1, 0.5), (None, 2, float("nan")), ("c", None, None)]
        lit_df = local_frame(spark, rows, schema)
        ref_df = spark.createDataFrame(rows, schema)
        assert lit_df.schema == ref_df.schema
        got = sorted(map(tuple, lit_df.collect()),
                     key=lambda t: (t[0] is None, str(t)))
        want = sorted(map(tuple, ref_df.collect()),
                      key=lambda t: (t[0] is None, str(t)))
        assert repr(got) == repr(want)  # repr: NaN == NaN comparison

    def test_no_python_scan_under_cap(self, spark):
        from spark_expectations_spark.plans import local_frame
        df = local_frame(spark, [("a", 1)], "k string, v long")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "Scan" not in plan.replace(
            "LocalTableScan", "").replace("RowDataSourceScan", "SCAN_OK")

    def test_falls_back_above_cap(self, spark):
        from spark_expectations_spark import plans
        rows = [(str(i), i) for i in range(200)]  # 400 literals > cap
        df = plans.local_frame(spark, rows, "k string, v long")
        assert df.count() == 200
        assert sorted(map(tuple, df.collect()))[:2] == [("0", 0), ("1", 1)]

    def test_empty_rows_keep_schema(self, spark):
        from spark_expectations_spark.plans import local_frame
        df = local_frame(spark, [], "k string, v long")
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == ["k", "v"]


class TestLocalFrameArrayCap:
    def test_array_payload_counts_toward_cap(self, spark):
        # 64 rows x 2 cols passes the old rows*cols cap, but each cell's
        # dim-64 vector is 64 literal nodes -> must route to
        # createDataFrame (no literal relation in the plan)
        rows = [(i, [float(i)] * 64) for i in range(64)]
        df = local_frame(spark, rows, "cid int, vec array<double>")
        txt = plan_text(df)
        assert "Scan ExistingRDD" in txt or "LocalTableScan" in txt
        got = df.orderBy("cid").collect()
        assert len(got) == 64 and got[3]["vec"] == [3.0] * 64

    def test_small_scalar_frame_still_literal(self, spark):
        rows = [(i, float(i) / 2) for i in range(10)]
        df = local_frame(spark, rows, "k int, v double")
        # the literal-relation path plans no Python RDD scan
        assert "Scan ExistingRDD" not in plan_text(df)
        assert df.count() == 10

    def test_small_array_frame_under_cap_stays_literal(self, spark):
        rows = [(i, [float(i), 1.0]) for i in range(8)]  # 8*(1+2)=24
        df = local_frame(spark, rows, "k int, v array<double>")
        assert "Scan ExistingRDD" not in plan_text(df)
        assert df.orderBy("k").collect()[2]["v"] == [2.0, 1.0]


class TestExecutionMetrics:
    def test_map_side_combine_visible_in_shuffle_records(self, spark,
                                                         lineitem):
        """The 3-group aggregate must shuffle ~3 records per map task,
        not 6000 rows — partial aggregation made measurable."""
        from spark_expectations_spark import plans
        df = (lineitem.groupBy("l_returnflag")
              .agg(F.sum("l_extendedprice").alias("rev")))
        m = plans.execution_metrics(df)
        assert m.get("number of output rows", 0) > 0
        n_maps = lineitem.rdd.getNumPartitions()
        assert 0 < m["shuffle records written"] <= 3 * n_maps
        assert m.get("spill size", 0) == 0

    def test_zero_shuffle_projection_writes_no_shuffle(self, spark,
                                                       lineitem):
        from spark_expectations_spark import plans
        df = lineitem.select("l_orderkey",
                             (F.col("l_quantity") * 2).alias("q2"))
        m = plans.execution_metrics(df)
        assert m.get("shuffle records written", 0) == 0
        assert m.get("number of output rows", 0) >= 6000


class TestPlanShapes:
    def test_filter_pushdown_to_scan(self, spark, lineitem):
        df = lineitem.filter(F.col("l_quantity") > 10).select("l_orderkey")
        assert plans.has_pushed_filters(df)
        cols = plans.read_schema_columns(df)
        assert "l_comment" not in cols
        assert set(cols) <= {"l_orderkey", "l_quantity"}

    def test_broadcast_join_for_small_dim(self, spark, lineitem, orders):
        small = orders.limit(100)
        j = lineitem.join(F.broadcast(small),
                          lineitem["l_orderkey"] == small["o_orderkey"])
        assert plans.has_broadcast_join(j)

    def test_row_dq_single_projection_no_shuffle(self, spark, lineitem):
        """Non-window row rules must add ZERO shuffles."""
        from spark_expectations_spark.operators import row_dq
        rules = [
            Rule("p", "t", "row_dq", "q", "l_quantity", "l_quantity between 1 and 50"),
            Rule("p", "t", "row_dq", "d", "l_discount", "l_discount >= 0"),
            Rule("p", "t", "row_dq", "s", "l_shipdate", "l_shipdate is not null"),
        ]
        projected = row_dq.errors_from_flags(
            row_dq.project_flags(lineitem, rules), rules)
        assert plans.num_shuffles(projected) == 0

    def test_agg_partial_aggregation(self, spark, lineitem):
        agg = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity"))
        assert plans.has_partial_aggregation(agg)

    def test_q6_full_pushdown_zero_shuffle(self, spark):
        from spark_expectations_spark.queries import q_tpch_q6
        df = q_tpch_q6(spark, SF_DIR)
        assert plans.has_pushed_filters(df)
        assert plans.num_shuffles(df) == 0  # single-row agg: no hash exchange
        cols = plans.read_schema_columns(df)
        assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity",
                             "l_extendedprice"}

    def test_blocked_near_dups_distributed_single_shuffle(self, spark):
        """The scale near-dup path never materializes the corpus on the
        driver: the plan is scan → one hash exchange (groupBy __pair) →
        grouped-map pandas, so it reads the parquet source directly
        (a driver collect would show a LocalTableScan/parallelize)."""
        from spark_expectations_spark.operators import similarity
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        df = similarity.blocked_near_duplicate_pairs(emb, threshold=0.9)
        txt = plans.plan_text(df, "simple")
        assert "FlatMapGroupsInPandas" in txt
        assert "LocalTableScan" not in txt
        assert plans.num_shuffles(df) == 1

    def test_assign_centroids_no_window_no_blowup(self, spark):
        """Centroid assignment is ONE map-only Arrow pass against the
        driver-side codebook (r16 — vectorized cosine matrix + argmax;
        the r03-era crossJoin × row_number form cost a k× row
        multiplication plus a window sort per row, and the broadcast
        HOF-fold form it replaced ran the k cosines interpreted per
        row): no WindowExec, no join of ANY kind, no exchange."""
        from spark_expectations_spark.operators import similarity
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cents = similarity.train_centroids_df(emb, by_col="label")
        df = similarity.assign_centroids(emb, cents)
        txt = plans.plan_text(df, "simple")
        assert "Window" not in txt
        assert "Join" not in txt and "Exchange" not in txt
        assert "MapInPandas" in txt or "ArrowEvalPython" in txt

    def test_semdedup_scan_fed_grouped_map(self, spark):
        """semdedup never collects the corpus: per-cell pair search is a
        grouped-map over the parquet scan (no LocalTableScan), and the
        removal is an anti join."""
        from spark_expectations_spark.operators import similarity
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cents = similarity.train_centroids_df(emb, by_col="label")
        df = similarity.semdedup(emb, threshold=0.4, centroids=cents)
        txt = plans.plan_text(df, "simple")
        assert "FlatMapGroupsInPandas" in txt
        assert "LocalTableScan" not in txt

    def test_quantile_buckets_threshold_join_broadcast(self, spark):
        """The per-group threshold frame is group-cardinality, so the
        bucket join must resolve to a broadcast under AQE (corpus side
        streams map-only)."""
        from spark_expectations_spark.operators import sampling
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        df = sampling.quantile_buckets(docs, "lang", "n_chars")
        df.write.format("noop").mode("overwrite").save()
        assert plans.has_broadcast_join(df)

    def test_sorted_neighborhood_no_single_task_sort(self, spark):
        """SNM's global rank must come from the two-phase bucket trick —
        a plan containing Exchange SinglePartition would mean the whole
        corpus funnels through one task's sort."""
        from spark_expectations_spark.operators import linkage
        part = spark.read.parquet(f"{SF_DIR}/part.parquet")
        df = linkage.sorted_neighborhood_pairs(part, "p_partkey",
                                               "p_name", window=4)
        txt = plans.plan_text(df, "simple")
        assert "Exchange SinglePartition" not in txt

    def test_bloom_probe_broadcasts_word_table(self, spark):
        """The probe side's k word lookups must be broadcast joins —
        the word table is n_bits/32 rows by construction."""
        from spark_expectations_spark.operators import sketches
        od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        cu = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        b = sketches.bloom_filter(od, "o_custkey", n_bits=4096, k=3)
        df = sketches.bloom_might_contain(b, cu, "c_custkey",
                                          n_bits=4096, k=3)
        assert plans.has_broadcast_join(df)
        assert "SortMergeJoin" not in plans.plan_text(df, "simple")

    def test_chi2_by_segment_windows_stay_partitioned(self, spark):
        """The per-segment top-N cut is a segment-partitioned window:
        no single-task exchange anywhere in the grouped chi2 plan."""
        from spark_expectations_spark.operators import drift
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        base = ev.filter(F.col("event_id") % 2 == 0)
        cur = ev.filter(F.col("event_id") % 2 == 1)
        df = drift.chi2_by_segment(base, cur, "event_type", "user_id")
        txt = plans.plan_text(df, "simple")
        assert "Exchange SinglePartition" not in txt

    def test_key_skew_report_combines_map_side(self, spark):
        """The key-count groupBy must partial-aggregate (the combine
        step is what makes the probe safe on the key it diagnoses)."""
        from spark_expectations_spark.operators import profiling
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        df = profiling.key_skew_report(ev, ["user_id"])
        assert plans.has_partial_aggregation(df)

    def test_epoch_shuffle_single_shuffle(self, spark):
        """The epoch permutation costs exactly ONE exchange (the shard
        hash partition); positions come from per-shard windows, so no
        global sort sneaks in."""
        from spark_expectations_spark.operators import sampling
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        df = sampling.epoch_shuffle(docs, "doc_id", seed=1, num_shards=8)
        assert plans.num_shuffles(df) == 1
        assert "No Partition Defined" not in plans.plan_text(df, "simple")

    def test_bucketed_near_dups_distributed(self, spark):
        """LSH-bucketed pairs: per-table bucket groups + final pair dedup
        = 2 shuffles, scan-fed (no driver matrix)."""
        from spark_expectations_spark.operators import similarity
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        df = similarity.bucketed_near_duplicate_pairs(emb, dim=64, threshold=0.9)
        txt = plans.plan_text(df, "simple")
        assert "FlatMapGroupsInPandas" in txt
        assert "LocalTableScan" not in txt
        assert plans.num_shuffles(df) <= 2

    def test_jaccard_posting_lists_no_self_join(self, spark):
        """The inverted index is one groupBy(shingle) + pair explode —
        no shingle-keyed join node anywhere in the plan."""
        from spark_expectations_spark.operators import dedup
        # this asserts the UNCACHED plan shape: any earlier test that
        # merely BUILDS a jaccard-family frame registers its
        # session-lifetime persists with the CacheManager, and the
        # InMemoryRelation substitution then carries the cached
        # subtree's own exchanges into this plan's count (5 -> 7; seen
        # when the driver-priority rotation put dedup_jaccard into the
        # contract test's cohort)
        spark.catalog.clearCache()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3,
                                    threshold=0.15)
        txt = plans.plan_text(pairs, "simple")
        assert not any("Join" in line and "shingle" in line
                       for line in txt.splitlines())
        # budget 5 = the 4 algorithmic exchanges + posting_list_pairs'
        # deliberate expansion-spread repartition (r16: keeps the k²
        # pair Generate at shuffle parallelism instead of the handful
        # of byte-coalesced partitions AQE leaves on the bucket frame)
        assert plans.num_shuffles(pairs) <= 5
        assert "CartesianProduct" not in txt

    def test_jaccard_no_forced_broadcast_of_sizes(self, spark):
        """The per-doc sizes frame is corpus-sized (one row per document):
        a hinted broadcast of it driver-OOMs at 100 TB. The logical plan
        must carry NO broadcast hint — a stats-driven broadcast picked by
        the planner when sizes is actually small remains allowed (and
        happens at sf0.001); the *forced* collect is what's banned."""
        from spark_expectations_spark.operators import dedup
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3,
                                    threshold=0.15)
        assert not plans.has_broadcast_hint(pairs)
        # sanity: the helper does flag a hinted frame
        sized = pairs.limit(5)
        hinted = pairs.join(F.broadcast(sized), ["id_a"], "left_semi")
        assert plans.has_broadcast_hint(hinted)

    def test_minhash_banding_single_exchange_no_self_join(self, spark):
        """Banding is one groupBy + in-bucket pair explode, not a stacked
        self-join: total Exchange count (including the cached signature
        build, counted once per branch by EXPLAIN) dropped 7 → 5, and no
        join on (band_idx, band_hash) remains in the plan."""
        from spark_expectations_spark.operators import dedup
        # uncached plan shape (see the jaccard posting-list test above:
        # an earlier test building an LSH-family frame registers its
        # session persists and inflates this count via InMemoryRelation)
        spark.catalog.clearCache()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", n=3,
                                          num_hashes=16, bands=4)
        # budget 6 = the 5 algorithmic exchanges + posting_list_pairs'
        # deliberate expansion-spread repartition (r16 — see the
        # jaccard posting-list test above)
        assert plans.num_shuffles(pairs) <= 6
        txt = plans.plan_text(pairs, "simple")
        assert not any("Join" in line and "band_" in line
                       for line in txt.splitlines())
        assert "CartesianProduct" not in txt

    def test_q4_uses_semi_join(self, spark):
        from spark_expectations_spark.queries import q_tpch_q4ish
        txt = plans.plan_text(q_tpch_q4ish(spark, SF_DIR), "simple")
        assert "LeftSemi" in txt

    def test_q22_uses_anti_join(self, spark):
        from spark_expectations_spark.queries import q_tpch_q22ish
        txt = plans.plan_text(q_tpch_q22ish(spark, SF_DIR), "simple")
        assert "LeftAnti" in txt

    def test_q10_broadcasts_dims(self, spark):
        from spark_expectations_spark.queries import q_tpch_q10ish
        df = q_tpch_q10ish(spark, SF_DIR)
        assert plans.has_broadcast_join(df)
        assert plans.has_partial_aggregation(df)

    def test_q21_semi_anti_hash_joins_no_nested_loop(self, spark):
        """The suppkey inequality must ride the l_orderkey hash join
        condition — a nested-loop/cartesian plan would be O(n²) at scale."""
        from spark_expectations_spark.queries import q_tpch_q21ish
        txt = plans.plan_text(q_tpch_q21ish(spark, SF_DIR), "simple")
        assert "LeftSemi" in txt and "LeftAnti" in txt
        assert "BroadcastNestedLoopJoin" not in txt
        assert "CartesianProduct" not in txt

    def test_q11_scalar_threshold_is_one_row_broadcast(self, spark):
        """The HAVING threshold is a 1-row aggregate: BNLJ over a 1-row
        broadcast is the right plan; a hash re-join of the grouped side
        would re-shuffle it."""
        from spark_expectations_spark.queries import q_tpch_q11ish
        txt = plans.plan_text(q_tpch_q11ish(spark, SF_DIR), "simple")
        assert "CartesianProduct" not in txt

    def test_q7_nation_filter_pushed_before_broadcast(self, spark):
        from spark_expectations_spark.queries import q_tpch_q7ish
        df = q_tpch_q7ish(spark, SF_DIR)
        assert plans.has_broadcast_join(df)
        assert plans.has_partial_aggregation(df)

    def test_q16_not_in_compiles_to_anti_join(self, spark):
        from spark_expectations_spark.queries import q_tpch_q16ish
        txt = plans.plan_text(q_tpch_q16ish(spark, SF_DIR), "simple")
        assert "LeftAnti" in txt

    def test_q17_single_window_no_self_join(self, spark):
        """Correlated-avg rewrite: one window over the filtered join, not a
        per-part aggregate re-joined to the fact (2 shuffles → 1)."""
        from spark_expectations_spark.queries import q_tpch_q17ish
        txt = plans.plan_text(q_tpch_q17ish(spark, SF_DIR), "simple")
        assert txt.count("Window") >= 1
        # exactly one join: the broadcast part filter
        assert txt.count("Join") == 1

    def test_events_sliding_one_shuffle_pruned_scan(self, spark):
        """Native F.window slide: the window expansion is a projection, so
        the whole query is ONE hash aggregate (partial → exchange → final).
        A generate_series-join formulation would add a join shuffle."""
        from spark_expectations_spark.queries import q_events_sliding
        df = q_events_sliding(spark, SF_DIR)
        assert plans.num_shuffles(df) == 1
        assert plans.has_partial_aggregation(df)
        cols = plans.read_schema_columns(df)
        assert set(cols) <= {"ts", "event_type", "value"}  # props pruned

    def test_embed_norm_outliers_broadcast_stats(self, spark):
        """Corpus-stats scalar (μ, σ) must come back as a 1-row broadcast,
        never a shuffle of the corpus against a 1-row side; the scan reads
        only vec_id + embedding."""
        from spark_expectations_spark.queries import q_embed_norm_outliers
        df = q_embed_norm_outliers(spark, SF_DIR)
        txt = plans.plan_text(df, "simple")
        assert "Broadcast" in txt
        assert "SortMergeJoin" not in txt
        cols = plans.read_schema_columns(df)
        assert set(cols) <= {"vec_id", "embedding"}

    def test_snapshot_diff_single_hash_join(self, spark):
        """The reconciliation diff must be ONE equi hash/SMJ join — a
        nested-loop compare would be O(n²) at snapshot scale."""
        from spark_expectations_spark.queries import q_orders_snapshot_diff
        txt = plans.plan_text(q_orders_snapshot_diff(spark, SF_DIR), "simple")
        assert txt.count("Join") == 1
        assert "BroadcastNestedLoopJoin" not in txt
        assert "CartesianProduct" not in txt

    def test_text_family_zero_shuffle_projections(self, spark):
        """Scalar text ops (stats/quality/langid/redaction) must remain
        pure scan projections — any Exchange here multiplies a 100 TB
        corpus pass."""
        from spark_expectations_spark.queries import (
            q_text_langid, q_text_pii_redact, q_text_quality, q_text_stats,
        )
        for fn in (q_text_stats, q_text_quality, q_text_langid,
                   q_text_pii_redact):
            assert plans.num_shuffles(fn(spark, SF_DIR)) == 0, fn.__name__

    def test_embed_quantize_zero_shuffle_projection(self, spark):
        """int8 quantization must stay a single codegen projection over
        the scan — no exchange, no Python."""
        from spark_expectations_spark.queries import q_embed_quantize
        df = q_embed_quantize(spark, SF_DIR)
        assert plans.num_shuffles(df) == 0
        txt = plans.plan_text(df, "simple")
        assert "Exchange" not in txt and "Python" not in txt

    def test_weighted_sample_membership_is_pure_filter(self, spark):
        """With mean_weight pinned, weighted sampling must add ZERO
        shuffles before the caller's own aggregation — membership is a
        scan-level filter at any scale."""
        from spark_expectations_spark.operators.sampling import (
            weighted_deterministic_sample,
        )
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        kept = weighted_deterministic_sample(
            docs, "doc_id", "n_chars", expected_fraction=0.3,
            max_weight=4000.0, mean_weight=1000.0)
        assert plans.num_shuffles(kept) == 0

    def test_fan_out_no_op_on_wide_input(self, spark, lineitem):
        """fan_out must never add a shuffle when Catalyst stats say the
        input is big (the 100 TB path)."""
        out = plans.fan_out(lineitem, max_bytes=1)  # everything is "big"
        assert out is lineitem
        narrow = plans.fan_out(lineitem.limit(10))
        assert plans.num_shuffles(narrow) >= 0  # repartition allowed when small


class TestReferenceCompat:
    def test_reference_shaped_api_end_to_end(self, spark, simple3, tmp_path):
        from spark_expectations_spark.compat import (
            SE_DQ_RULES_PARAMS, SE_ENABLE_ERROR_TABLE, SparkExpectations,
        )
        from spark_expectations_spark.sinks.builder import WrappedDataFrameWriter

        rules_df = RuleSet([
            Rule("p1", "my_table", "row_dq", "gt_min", "col1",
                 "col1 > {min_col1}", action_if_failed="drop"),
            Rule("p1", "other_table", "row_dq", "unrelated", "col1",
                 "col1 > 100"),                       # filtered out by table
            Rule("p2", "my_table", "row_dq", "unrelated2", "col1",
                 "col1 > 100"),                       # filtered out by product
        ]).to_df(spark)

        writer = (WrappedDataFrameWriter().mode("overwrite").format("parquet")
                  .path(str(tmp_path)))
        se = SparkExpectations(
            product_id="p1", rules_df=rules_df,
            stats_table="my_stats", stats_table_writer=writer,
            target_and_error_table_writer=writer)

        @se.with_expectations(
            "my_table",
            user_conf={SE_ENABLE_ERROR_TABLE: True,
                       SE_DQ_RULES_PARAMS: {"min_col1": 1}})
        def produce():
            return simple3

        out = produce()
        # reference contract: the decorated call returns the final DataFrame
        assert set(out.columns) == set(simple3.columns)
        assert out.count() == 2                       # col1=1 dropped
        err = spark.read.parquet(str(tmp_path / "my_table_error"))
        assert err.count() == 1
        assert "meta_row_dq_results" in err.columns
        stats = spark.read.parquet(str(tmp_path / "my_stats"))
        assert stats.count() == 1
        row = stats.first()
        assert row["input_count"] == 3 and row["error_count"] == 1


class TestIgnoredRulesDigest:
    def test_ignored_failures_digest(self, spark, simple3):
        coll = CollectingNotifier()
        hub = NotificationHub(NotificationRules(notify_on_ignored_rules=True))
        hub.register(coll)
        rules = RuleSet([
            Rule("p1", "t", "row_dq", "ig1", "col1", "col1 > 1"),  # ignore (default)
            Rule("p1", "t", "row_dq", "dr1", "col2", "col2 != 'c'",
                 action_if_failed="drop"),
        ])
        cfg = DQConfig(product_id="p1", table_name="t",
                       write_error_table=False, notifications=hub)
        DQEngine(cfg).run(simple3, rules, spark)
        events = dict(coll.events)
        assert "ignored_rules" in events
        digest = events["ignored_rules"]["ignored"]
        assert digest == [{"rule": "ig1", "failed_count": 1,
                           "priority": "medium"}]  # drop rule excluded


class TestStreamingStatsRow:
    def test_streaming_run_writes_zero_count_stats(self, spark, tmp_path):
        """Reference parity (SURVEY 3.3): a streaming run still lands ONE
        batch-mode stats row with zero counts at setup time."""
        from spark_expectations_spark import WriterOptions
        src = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        df = src.selectExpr("value as id", "cast(value % 5 as int) as grade")
        rules = RuleSet([Rule("p1", "t", "row_dq", "g", "grade", "grade < 4",
                              action_if_failed="drop")])
        cfg = DQConfig(
            product_id="p1", table_name="t", write_error_table=False,
            write_stats_table=True, stats_table="t_stats",
            stats_writer=WriterOptions(mode="overwrite", path=str(tmp_path)),
            target_table="t_final",
            target_writer=WriterOptions(
                path=str(tmp_path / "out"), format="parquet",
                checkpoint_location=str(tmp_path / "ckpt")),
        )
        res = DQEngine(cfg).run(df, rules, spark)
        try:
            stats = spark.read.parquet(str(tmp_path / "t_stats"))
            row = stats.first()
            assert stats.count() == 1
            assert row["input_count"] == 0 and row["error_count"] == 0
            assert row["dq_status"]["row_dq"] == "Passed"
        finally:
            for q in spark.streams.active:
                q.stop()


class TestTransformWithState:
    def test_running_error_rate_accumulates(self, spark, tmp_path):
        """transformWithStateInPandas (Spark 4 arbitrary state): cumulative
        per-key (rows, errors) survives across micro-batches and the
        emitted rate always equals errors/rows.

        Requires google.protobuf (the TWS state-server protocol dep, not
        shipped in this container) — construction is still covered below.
        """
        pytest.importorskip("google.protobuf")
        from spark_expectations_spark.streaming import running_error_rate
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        try:
            src = (spark.readStream.format("rate")
                   .option("rowsPerSecond", "500").load()
                   .selectExpr("value % 4 AS k",
                               "CAST(value % 10 = 0 AS BOOLEAN) AS is_err"))
            out = running_error_rate(src, "k", "is_err")
            q = (out.writeStream.format("memory").queryName("twsr")
                 .outputMode("update")
                 .option("checkpointLocation", str(tmp_path / "ck"))
                 .start())
            try:
                deadline = time.time() + 120
                while time.time() < deadline:
                    rows = spark.sql(
                        "SELECT * FROM twsr WHERE total_rows >= 50").collect()
                    if rows:
                        break
                    time.sleep(2)
                assert rows, "no state output within deadline"
                for r in spark.sql("SELECT * FROM twsr").collect():
                    if r.total_rows:
                        assert abs(r.error_rate
                                   - r.total_errors / r.total_rows) < 1e-9
                        assert 0 <= r.total_errors <= r.total_rows
            finally:
                q.stop()
        finally:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    def test_running_error_rate_builds_streaming_plan(self, spark):
        """Construction-level check (runnable without protobuf): the
        operator composes on a streaming frame with the expected output
        schema and stays streaming."""
        from spark_expectations_spark.streaming import running_error_rate
        src = (spark.readStream.format("rate")
               .option("rowsPerSecond", "10").load()
               .selectExpr("value % 4 AS k",
                           "CAST(value % 10 = 0 AS BOOLEAN) AS is_err"))
        out = running_error_rate(src, "k", "is_err")
        assert out.isStreaming
        assert [f.name for f in out.schema.fields] == \
            ["k", "total_rows", "total_errors", "error_rate"]


class TestNotificationFormatting:
    PAYLOAD = {
        "run_id": "r1", "product_id": "p1", "table_name": "t1",
        "input_count": 100, "error_count": 7, "output_count": 93,
        "error_percentage": 7.0,
        "status": {"row_dq": "Failed"},
    }

    def test_text_block_field_order(self):
        from spark_expectations_spark.notifications import (
            format_notification_text,
        )
        txt = format_notification_text("completion", self.PAYLOAD)
        lines = txt.splitlines()
        assert lines[0] == "Spark expectations run completed"
        assert "product_id: p1" in lines[1]
        assert lines[-1] == "status: row_dq=Failed"

    def test_breach_lines(self):
        from spark_expectations_spark.notifications import (
            format_notification_text,
        )
        txt = format_notification_text("rule_threshold", {
            **self.PAYLOAD,
            "breaches": [{"rule": "gt1", "failed_count": 9,
                          "threshold_pct": 5}]})
        assert "breach: rule=gt1 failed=9 threshold=5%" in txt

    def test_html_table_escapes(self):
        from spark_expectations_spark.notifications import html_report_table
        html = html_report_table(
            [{"rule": "a<b", "status": "pass"}], ["rule", "status"])
        assert "a&lt;b" in html and "<th>rule</th>" in html

    def test_email_notifier_assembles_mime(self):
        from spark_expectations_spark.notifications import email_notifier
        sent = {}

        class FakeSMTP:
            def __init__(self, host, port):
                sent["hostport"] = (host, port)
            def __enter__(self):
                return self
            def __exit__(self, *a):
                return False
            def sendmail(self, frm, to, body):
                sent["frm"], sent["to"], sent["body"] = frm, to, body

        n = email_notifier(
            "mail.local", 25, "dq@local", ["ops@local"],
            use_html_report=True,
            report_rows=lambda p: [{"rule": "gt1", "status": "fail"}],
            smtp_factory=FakeSMTP)
        n("completion", self.PAYLOAD)
        assert sent["hostport"] == ("mail.local", 25)
        assert sent["to"] == ["ops@local"]
        assert "run completed" in sent["body"]
        assert "text/html" in sent["body"] and "gt1" in sent["body"]

    def test_text_notifier_adapter(self):
        from spark_expectations_spark.notifications import text_notifier
        out = []
        n = text_notifier(lambda subj, body: out.append((subj, body)))
        n("failure", {**self.PAYLOAD, "error": "boom"})
        assert out and out[0][0].endswith("failure: p1/t1")
        assert "error: boom" in out[0][1]


class TestChannelPayloadFormatters:
    """Golden-dict parity with the reference's channel plugins
    (notifications/plugins/{slack,teams,zoom,pagerduty}.py): field
    names, fixed title/color/source values, newline handling, and
    PagerDuty's failure-only + dedup-key contracts."""

    PAYLOAD = TestNotificationFormatting.PAYLOAD

    def test_slack_payload_is_single_text_field(self):
        from spark_expectations_spark.notifications import slack_payload
        doc = slack_payload("completion", self.PAYLOAD)
        assert set(doc) == {"text"}
        assert doc["text"].startswith("Spark expectations run completed")
        assert "product_id: p1" in doc["text"]

    def test_teams_payload_card_fields_and_newline_doubling(self):
        from spark_expectations_spark.notifications import teams_payload
        doc = teams_payload("failure", {**self.PAYLOAD, "error": "boom"})
        assert set(doc) == {"title", "themeColor", "text"}
        assert doc["title"] == "SE Notification"
        assert doc["themeColor"] == "008000"
        assert "\n\n" in doc["text"] and "\n\n\n" not in doc["text"]
        assert "error: boom" in doc["text"]

    def test_zoom_payload_shares_teams_card(self):
        from spark_expectations_spark.notifications import (
            teams_payload, zoom_payload,
        )
        assert zoom_payload("start", self.PAYLOAD) == teams_payload(
            "start", self.PAYLOAD)

    def test_pagerduty_triggers_only_on_failure_events(self):
        from spark_expectations_spark.notifications import pagerduty_payload
        for ev in ("start", "completion", "ignored_rules"):
            assert pagerduty_payload(ev, self.PAYLOAD, "rk") is None
        doc = pagerduty_payload("failure", self.PAYLOAD, "rk")
        assert doc["routing_key"] == "rk"
        assert doc["event_action"] == "trigger"
        assert doc["dedup_key"] == "spark_expectations_p1_t1_failure"
        assert doc["payload"]["source"] == "Spark Expectations"
        assert doc["payload"]["severity"] == "error"
        assert "run FAILED" in doc["payload"]["summary"]

    def test_pagerduty_threshold_events_page_with_same_dedup_key(self):
        from spark_expectations_spark.notifications import pagerduty_payload
        a = pagerduty_payload(
            "error_threshold", {**self.PAYLOAD, "threshold_pct": 5.0}, "rk")
        b = pagerduty_payload(
            "rule_threshold",
            {**self.PAYLOAD, "breaches": [
                {"rule": "gt1", "failed_count": 9, "threshold_pct": 5}]},
            "rk")
        assert a["dedup_key"] == b["dedup_key"]
        assert "breach: rule=gt1" in b["payload"]["summary"]

    def test_channel_notifiers_post_formatted_bodies(self, monkeypatch):
        import json
        import urllib.request

        from spark_expectations_spark import notifications as no

        posts = []

        def fake_urlopen(req, timeout=None):
            posts.append((req.full_url, json.loads(req.data.decode()),
                          req.headers.get("Authorization")))
            class R:  # noqa: N801 - minimal response stub
                pass
            return R()

        monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
        no.slack_notifier("https://h/slack")("completion", self.PAYLOAD)
        no.teams_notifier("https://h/teams")("completion", self.PAYLOAD)
        no.zoom_notifier("https://h/zoom", "tok")(
            "completion", self.PAYLOAD)
        pd = no.pagerduty_notifier("https://h/pd", "rk")
        pd("completion", self.PAYLOAD)   # gated: no post
        pd("failure", {**self.PAYLOAD, "error": "boom"})
        assert [p[0] for p in posts] == [
            "https://h/slack", "https://h/teams", "https://h/zoom",
            "https://h/pd"]
        assert set(posts[0][1]) == {"text"}
        assert posts[1][1]["title"] == "SE Notification"
        assert posts[2][2] == "Bearer tok"
        assert posts[3][1]["event_action"] == "trigger"

    def test_pagerduty_routing_key_resolves_through_secrets(
            self, monkeypatch):
        import json
        import urllib.request

        from spark_expectations_spark import notifications as no
        from spark_expectations_spark.secrets import DictSecretResolver

        posts = []

        def fake_urlopen(req, timeout=None):
            posts.append(json.loads(req.data.decode()))
            class R:  # noqa: N801 - minimal response stub
                pass
            return R()

        monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
        n = no.pagerduty_notifier(
            "https://h/pd", "secret://pd_key",
            secret_resolver=DictSecretResolver({"pd_key": "RK9"}))
        n("failure", {**self.PAYLOAD, "error": "x"})
        assert posts and posts[0]["routing_key"] == "RK9"


class TestPriorityGating:
    def test_low_priority_breach_suppressed_by_floor(self, spark, simple3):
        coll = CollectingNotifier()
        hub = NotificationHub(NotificationRules(min_priority="high"))
        hub.register(coll)
        rules = RuleSet([
            Rule("p1", "t", "row_dq", "lo", "col1", "col1 > 1",
                 enable_error_drop_alert=True, error_drop_threshold=10,
                 priority="low"),
            Rule("p1", "t", "row_dq", "hi", "col1", "col1 > 2",
                 enable_error_drop_alert=True, error_drop_threshold=10,
                 priority="high"),
        ])
        cfg = DQConfig(product_id="p1", table_name="t",
                       write_error_table=False, notifications=hub)
        DQEngine(cfg).run(simple3, rules, spark)
        assert [e for e, _ in coll.events] == ["rule_threshold"]
        breaches = coll.events[0][1]["breaches"]
        assert [b["rule"] for b in breaches] == ["hi"]
        assert breaches[0]["priority"] == "high"

    def test_default_floor_admits_all(self, spark, simple3):
        coll = CollectingNotifier()
        hub = NotificationHub(NotificationRules())
        hub.register(coll)
        rules = RuleSet([
            Rule("p1", "t", "row_dq", "lo", "col1", "col1 > 1",
                 enable_error_drop_alert=True, error_drop_threshold=10,
                 priority="low"),
        ])
        cfg = DQConfig(product_id="p1", table_name="t",
                       write_error_table=False, notifications=hub)
        DQEngine(cfg).run(simple3, rules, spark)
        assert [e for e, _ in coll.events] == ["rule_threshold"]


class TestCompatChannelWiring:
    def test_enabled_channels_register_notifiers(self, spark):
        """user_conf channel keys construct the hub with one notifier per
        enabled channel (webhook x2 + email + console)."""
        from spark_expectations_spark import compat as C
        rules_df = RuleSet([
            Rule("p1", "t1", "row_dq", "r1", "c", "c > 0")]).to_df(spark)
        se = C.SparkExpectations(product_id="p1", rules_df=rules_df,
                                 stats_table="s")
        conf = {
            C.SE_NOTIFICATIONS_ENABLE_SLACK: True,
            C.SE_NOTIFICATIONS_SLACK_WEBHOOK_URL: "http://h/slack",
            C.SE_NOTIFICATIONS_ENABLE_PAGERDUTY: True,
            C.SE_NOTIFICATIONS_PAGERDUTY_WEBHOOK_URL: "http://h/pd",
            C.SE_NOTIFICATIONS_ENABLE_TEAMS: True,  # url missing -> skipped
            C.SE_NOTIFICATIONS_ENABLE_EMAIL: True,
            C.SE_NOTIFICATIONS_EMAIL_SMTP_HOST: "mail.local",
            C.SE_NOTIFICATIONS_EMAIL_TO: "a@x, b@y",
        }
        deco = se.with_expectations("t1", user_conf=conf)
        # the decorator closes over the engine config; reach the hub
        hub = deco.__closure__ and next(
            (c.cell_contents for c in deco.__closure__
             if hasattr(c.cell_contents, "config")), None)
        assert hub is not None
        notifiers = hub.config.notifications._notifiers
        assert len(notifiers) == 4  # console + slack + pagerduty + email


class TestCompatVendorBodies:
    @staticmethod
    def _hub(spark, conf):
        from spark_expectations_spark import compat as C
        rules_df = RuleSet([
            Rule("p1", "t1", "row_dq", "r1", "c", "c > 0")]).to_df(spark)
        deco = C.SparkExpectations(product_id="p1", rules_df=rules_df,
                                   stats_table="s").with_expectations(
            "t1", user_conf=conf)
        engine = next(c.cell_contents for c in deco.__closure__
                      if hasattr(c.cell_contents, "config"))
        return engine.config.notifications

    def test_each_vendor_gets_its_own_body(self, spark, monkeypatch):
        """compat's Slack / Teams / Zoom channels post the body each of
        those webhooks expects, not the generic webhook JSON."""
        import urllib.request

        from spark_expectations_spark import compat as C
        from spark_expectations_spark.notifications import (slack_payload,
                                                            teams_payload)

        posts = []

        def fake_urlopen(req, timeout=None):
            posts.append((req.full_url, json.loads(req.data.decode()),
                          req.headers.get("Authorization")))
            class R:  # noqa: N801 - minimal response stub
                pass
            return R()

        monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
        hub = self._hub(spark, {
            C.SE_NOTIFICATIONS_ON_START: True,
            C.SE_NOTIFICATIONS_ENABLE_SLACK: True,
            C.SE_NOTIFICATIONS_SLACK_WEBHOOK_URL: "http://h/slack",
            C.SE_NOTIFICATIONS_ENABLE_TEAMS: True,
            C.SE_NOTIFICATIONS_TEAMS_WEBHOOK_URL: "http://h/teams",
            C.SE_NOTIFICATIONS_ENABLE_ZOOM: True,
            C.SE_NOTIFICATIONS_ZOOM_WEBHOOK_URL: "http://h/zoom",
            C.SE_NOTIFICATIONS_ZOOM_TOKEN: "tok",
        })
        hub.on_start("p1", "t1")
        payload = {"product_id": "p1", "table_name": "t1"}
        assert posts == [
            ("http://h/slack", slack_payload("start", payload), None),
            ("http://h/teams", teams_payload("start", payload), None),
            ("http://h/zoom", teams_payload("start", payload),
             "Bearer tok"),
        ]

    def test_zoom_without_token_is_skipped(self, spark):
        from spark_expectations_spark import compat as C
        hub = self._hub(spark, {
            C.SE_NOTIFICATIONS_ENABLE_ZOOM: True,
            C.SE_NOTIFICATIONS_ZOOM_WEBHOOK_URL: "http://h/zoom",
        })
        assert len(hub._notifiers) == 1  # console only


class TestIdempotentForeachBatch:
    def test_replayed_batch_skipped(self, spark):
        from spark_expectations_spark.streaming import idempotent_foreach_batch
        spark.sql("DROP TABLE IF EXISTS ifb_state")
        spark.sql("CREATE TABLE ifb_state (dummy INT) USING parquet")
        try:
            calls = []
            wrapped = idempotent_foreach_batch(
                lambda df, bid: calls.append((bid, df.count())), "ifb_state")
            df = spark.range(5)
            wrapped(df, 0)
            wrapped(df, 0)   # crash-replay of batch 0
            wrapped(df, 1)
            wrapped(df, 0)   # stale replay after later progress
            assert calls == [(0, 5), (1, 5)]
        finally:
            spark.sql("DROP TABLE IF EXISTS ifb_state")

    def test_failure_keeps_batch_replayable(self, spark):
        from spark_expectations_spark.streaming import idempotent_foreach_batch
        spark.sql("DROP TABLE IF EXISTS ifb_state2")
        spark.sql("CREATE TABLE ifb_state2 (dummy INT) USING parquet")
        try:
            calls = []

            def flaky(df, bid):
                if not calls:
                    calls.append("fail")
                    raise RuntimeError("sink outage")
                calls.append(bid)

            wrapped = idempotent_foreach_batch(flaky, "ifb_state2")
            df = spark.range(3)
            with pytest.raises(RuntimeError):
                wrapped(df, 0)
            wrapped(df, 0)  # replay succeeds — mark was NOT advanced
            assert calls == ["fail", 0]
        finally:
            spark.sql("DROP TABLE IF EXISTS ifb_state2")

    def test_legacy_unsuffixed_property_migrates_for_default_stream(
            self, spark):
        """ADVICE r5: pre-suffix releases stored the id under
        'spark_expectations.last_batch_id' (no stream suffix). For
        stream_id='default' that legacy state must still suppress a
        restart-replayed batch — otherwise the first replay after
        upgrade double-writes the sink."""
        from spark_expectations_spark.streaming import idempotent_foreach_batch
        spark.sql("DROP TABLE IF EXISTS ifb_state4")
        spark.sql("CREATE TABLE ifb_state4 (dummy INT) USING parquet")
        try:
            # simulate state written by an old release
            spark.sql("ALTER TABLE ifb_state4 SET TBLPROPERTIES "
                      "('spark_expectations.last_batch_id'='7')")
            calls = []
            wrapped = idempotent_foreach_batch(
                lambda df, bid: calls.append(bid), "ifb_state4")
            df = spark.range(2)
            wrapped(df, 7)   # replay of the legacy-committed batch
            wrapped(df, 8)   # genuinely new batch runs and migrates
            wrapped(df, 8)   # replay now caught by the NEW suffixed key
            assert calls == [8]
            # a non-default stream ignores the legacy key entirely
            other = idempotent_foreach_batch(
                lambda df, bid: calls.append(("s2", bid)), "ifb_state4",
                stream_id="s2")
            other(df, 0)
            assert calls == [8, ("s2", 0)]
        finally:
            spark.sql("DROP TABLE IF EXISTS ifb_state4")

    def test_stream_id_isolates_checkpoint_lineages(self, spark):
        """r5 review fix: batch ids are monotonic only within one
        checkpoint — a fresh checkpoint (ids restart at 0) must use a
        fresh stream_id so the stale stored id doesn't swallow every
        batch until the old max is exceeded."""
        from spark_expectations_spark.streaming import idempotent_foreach_batch
        spark.sql("DROP TABLE IF EXISTS ifb_state3")
        spark.sql("CREATE TABLE ifb_state3 (dummy INT) USING parquet")
        try:
            calls = []
            old = idempotent_foreach_batch(
                lambda df, bid: calls.append(("old", bid)), "ifb_state3",
                stream_id="ck_v1")
            df = spark.range(2)
            old(df, 5000)                      # long-running stream
            fresh = idempotent_foreach_batch(
                lambda df, bid: calls.append(("new", bid)), "ifb_state3",
                stream_id="ck_v2")
            fresh(df, 0)                       # new checkpoint, id reset
            assert calls == [("old", 5000), ("new", 0)]
        finally:
            spark.sql("DROP TABLE IF EXISTS ifb_state3")


class TestStreamingDriftMonitor:
    def test_drift_callback_fires_on_shifted_stream(self, spark, tmp_path):
        """Baseline expects uniform 0..99; the stream emits constant 999 —
        every batch should breach the PSI threshold."""
        from spark_expectations_spark.streaming import drift_monitor

        # baseline: uniform over [0, 100) in 4 equal-mass buckets
        edges = [25.0, 50.0, 75.0]
        props = {0: 0.25, 1: 0.25, 2: 0.25, 3: 0.25}
        src = (spark.readStream.format("rate")
               .option("rowsPerSecond", "200").load()
               .selectExpr("CAST(999 AS DOUBLE) AS v"))
        hits = []
        q = drift_monitor(
            src, "v", edges, props, threshold=0.25,
            on_drift=lambda bid, psi: hits.append((bid, psi)),
            checkpoint_location=str(tmp_path / "ck"))
        try:
            deadline = time.time() + 60
            while time.time() < deadline and not hits:
                time.sleep(2)
            assert hits, "no drift alert within deadline"
            assert hits[0][1] > 0.25
        finally:
            q.stop()


class TestCodegenSpanCounter:
    def test_counts_executed_codegen_regions(self, spark):
        from spark_expectations_spark import plans
        df = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
              .groupBy("l_returnflag").count())
        # under AQE the pre-execution plan reports 0 subtrees; the
        # counter must execute the frame and read the FINAL plan
        assert plans.whole_stage_codegen_spans(df) >= 1


class TestBucketedColocatedJoin:
    def test_bucketed_join_has_no_shuffle(self, spark, tmp_path):
        """The payoff of bucketBy writes: two tables bucketed on the join
        key by the same bucket count join WITHOUT a shuffle on either
        side — at 100 TB this is the difference between an exchange of
        the whole fact table and none. Pin: no ShuffleExchange feeds the
        join when bucketing lines up."""
        prev_bucketing = spark.conf.get("spark.sql.sources.bucketing.enabled")
        prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        for name, df, key in (("li_b", li, "l_orderkey"),
                              ("od_b", od, "o_orderkey")):
            (df.write.mode("overwrite")
               .bucketBy(8, key).sortBy(key)
               .option("path", str(tmp_path / name))
               .saveAsTable(name))
        try:
            j = (spark.table("li_b")
                 .join(spark.table("od_b"),
                       F.col("l_orderkey") == F.col("o_orderkey"))
                 .select("l_orderkey", "o_totalprice"))
            assert plans.num_shuffles(j) == 0, plans.plan_text(j, "simple")
            assert j.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS li_b")
            spark.sql("DROP TABLE IF EXISTS od_b")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
            spark.conf.set("spark.sql.sources.bucketing.enabled",
                           prev_bucketing)


class TestFuzzyMatchStream:
    def test_register_and_match_across_batches(self, spark, tmp_path):
        """Streaming entity resolution: batch-1 entities register into
        the disk index; batch-2 near-duplicates of them match, and
        batch-2's genuinely new entity registers itself."""
        from spark_expectations_spark import streaming as st
        idx = str(tmp_path / "linkage_index")
        out = str(tmp_path / "matches")
        step = st.fuzzy_match_stream(
            idx, "rec_id", "name", out_path=out,
            max_distance=1, register_unmatched=True)
        b1 = spark.createDataFrame(
            [(1, "acme corp"), (2, "widget works")],
            "rec_id long, name string")
        b2 = spark.createDataFrame(
            [(3, "acme corps"), (4, "acme corp"), (5, "zen labs")],
            "rec_id long, name string")
        step(b1, 0)
        # batch 1: empty index -> nothing matches (the empty partitioned
        # write leaves no readable schema — standard Spark sink
        # behavior, same as corpus_append_dedup's out_path), both
        # register
        from pyspark.errors import AnalysisException
        try:
            assert spark.read.parquet(out).count() == 0
        except AnalysisException:
            pass
        assert sorted(
            r["index_id"] for r in
            spark.read.parquet(idx).select("index_id")
            .distinct().collect()) == [1, 2]
        step(b2, 1)
        got = {(r["rec_id"], r["index_id"]): r["distance"]
               for r in spark.read.parquet(out).collect()}
        assert got == {(3, 1): 1, (4, 1): 0}
        ids = sorted(r["index_id"] for r in spark.read.parquet(idx)
                     .select("index_id").distinct().collect())
        assert ids == [1, 2, 5]          # only the new entity registered

    def test_replay_is_exactly_once(self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        idx = str(tmp_path / "li2")
        out = str(tmp_path / "m2")
        step = st.fuzzy_match_stream(
            idx, "rec_id", "name", out_path=out,
            max_distance=1, register_unmatched=True)
        b1 = spark.createDataFrame([(1, "acme corp")],
                                   "rec_id long, name string")
        b2 = spark.createDataFrame([(2, "acme cor")],
                                   "rec_id long, name string")
        step(b1, 0)
        step(b2, 1)
        before_m = sorted(map(tuple, spark.read.parquet(out).collect()))
        before_i = sorted(map(tuple, spark.read.parquet(idx).collect()))
        step(b2, 1)                      # replay
        assert sorted(map(tuple, spark.read.parquet(out).collect())) == before_m
        assert sorted(map(tuple, spark.read.parquet(idx).collect())) == before_i


class TestEmbeddingDriftMonitor:
    def _codebook(self, spark):
        # two 1-D centroids at 0 and 10, long-form like lloyd_kmeans
        return spark.createDataFrame(
            [(0, 0, 0.0), (1, 0, 10.0)],
            "centroid_id int, pos int, coord double")

    def test_drift_fires_and_verdicts_land(self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        out = str(tmp_path / "drift")
        fired = []
        step = st.embedding_drift_monitor(
            self._codebook(spark), {0: 0.5, 1: 0.5},
            threshold=0.25, out_path=out,
            on_drift=lambda b, p: fired.append((b, round(p, 3))))
        # batch 0 matches the baseline 50/50 -> no drift
        b0 = spark.createDataFrame(
            [(1, [0.1]), (2, [9.9]), (3, [0.2]), (4, [10.1])],
            "id long, embedding array<double>")
        step(b0, 0)
        # batch 1 collapses onto cluster 0 -> PSI way above 0.25
        b1 = spark.createDataFrame(
            [(5, [0.1]), (6, [0.3]), (7, [0.2]), (8, [-0.1])],
            "id long, embedding array<double>")
        step(b1, 1)
        got = {r["_batch_id"]: r for r in
               spark.read.parquet(out).collect()}
        assert got[0]["drifted"] is False and got[0]["n"] == 4
        assert got[1]["drifted"] is True and got[1]["n"] == 4
        assert got[0]["psi"] < 0.01 < got[1]["psi"]
        assert fired and fired[0][0] == 1

    def test_replay_is_exactly_once_and_empty_batch_skipped(
            self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        out = str(tmp_path / "drift")
        step = st.embedding_drift_monitor(
            self._codebook(spark), {0: 1.0}, out_path=out)
        b = spark.createDataFrame(
            [(1, [0.0]), (2, [10.0]), (3, None)],
            "id long, embedding array<double>")
        step(b, 7)
        first = sorted(map(tuple, spark.read.parquet(out).collect()))
        step(b, 7)                       # replay: same partition
        assert sorted(map(tuple,
                          spark.read.parquet(out).collect())) == first
        assert len(first) == 1 and first[0][0] == 2  # NULL vec dropped
        empty = b.filter("id > 99")
        step(empty, 8)                   # no histogram -> no verdict row
        assert spark.read.parquet(out).count() == 1

    def test_codebook_validation(self, spark):
        from spark_expectations_spark import streaming as st
        import pytest as _pytest
        bad = spark.createDataFrame(
            [(2, 0, 1.0)], "centroid_id int, pos int, coord double")
        with _pytest.raises(ValueError, match="0..k-1"):
            st.embedding_drift_monitor(bad, {0: 1.0})
        none = bad.filter("centroid_id > 99")
        with _pytest.raises(ValueError, match="no centroids"):
            st.embedding_drift_monitor(none, {0: 1.0})


class TestClusteringPlanShapes:
    """Plan pins for the round-10 clustering family: the shapes SCALE.md
    documents are asserted, not just described."""

    def _codebook(self, spark):
        return spark.createDataFrame(
            [(c, p, float(c * 10 + p)) for c in range(2) for p in range(2)],
            "centroid_id int, pos int, coord double")

    def test_l2_assignment_pass_is_one_map_in_pandas(self, spark):
        """The assignment pass of lloyd_kmeans and both streaming
        codebook steps: ZERO shuffles on the corpus, and the distances,
        argmin and partials all in ONE MapInPandas node."""
        from spark_expectations_spark.operators.similarity import \
            _lloyd_partials
        vecs = spark.range(100).selectExpr(
            "array(cast(id as double), cast(id+1 as double)) as __v")
        out = _lloyd_partials(vecs, [[0.0, 0.0], [50.0, 50.0]],
                              measure=False)
        assert plans.num_shuffles(out) == 0
        assert plans.plan_text(out, "simple").count("MapInPandas") == 1

    def test_cluster_qa_no_corpus_window(self, spark):
        """cluster_qa's silhouette comes from the one-pass fold — the
        plan must contain no Window over corpus rows (k-keyed windows
        for purity are fine; they run on (k x labels) frames)."""
        from spark_expectations_spark.operators import similarity as sim
        corpus = spark.range(200).selectExpr(
            "id as vec_id",
            "array(cast(id % 7 as double)) as embedding")
        out = sim.kmeans_cluster_qa(corpus, self._codebook(spark),
                                    id_col="vec_id",
                                    vec_col="embedding")
        txt = plans.plan_text(out)
        # the only Window allowed is the purity top-label rank, absent
        # here (no label_col) — silhouette must not need one
        assert "Window" not in txt
        assert "BroadcastExchange" in plans.plan_text(out, "simple")

    def test_hard_negatives_single_rank_window(self, spark):
        from spark_expectations_spark.operators import similarity as sim
        corpus = spark.range(100).selectExpr(
            "id as vec_id",
            "array(cast(id as double)) as embedding",
            "cast(id % 3 as int) as label")
        out = sim.hard_negatives(corpus, corpus.filter("vec_id < 5"),
                                 k=3)
        # the corpus side is the cosine kernel's one Arrow pass
        assert "MapInPandas part" in plans.plan_text(out, "simple")
        # one exchange total: the per-query rank window's hash
        # partition on query_id
        assert plans.num_shuffles(out) <= 1


class TestKmeansUpdateStream:
    def _seed(self, spark, path):
        from spark_expectations_spark import streaming as st
        cb = spark.createDataFrame(
            [(0, 0, 0.0, 2), (1, 0, 10.0, 2)],
            "centroid_id int, pos int, coord double, n_assigned long")
        st.init_codebook_state(cb, path)

    def _latest(self, spark, path):
        import pyspark.sql.functions as F
        df = spark.read.parquet(path)
        latest = df.agg(F.max("_batch_id")).first()[0]
        return {r["centroid_id"]: (r["coord"], r["n_seen"])
                for r in df.filter(F.col("_batch_id") == latest).collect()}, latest

    def test_count_weighted_updates_accumulate(self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        path = str(tmp_path / "codebook")
        self._seed(spark, path)
        step = st.kmeans_update_stream(path,
                                       out_path=str(tmp_path / "obs"))
        # batch 0: two vectors near c0 -> c0 = (2*0 + 1 + 3)/(2+2) = 1.0
        b0 = spark.createDataFrame([(1, [1.0]), (2, [3.0])],
                                   "id long, embedding array<double>")
        step(b0, 0)
        got, latest = self._latest(spark, path)
        assert latest == 0
        assert got[0] == (1.0, 4) and got[1] == (10.0, 2)
        # batch 1: one vector at 13 near c1 -> c1 = (2*10+13)/3 = 11.0
        b1 = spark.createDataFrame([(3, [13.0])],
                                   "id long, embedding array<double>")
        step(b1, 1)
        got, latest = self._latest(spark, path)
        assert latest == 1
        assert got[0] == (1.0, 4) and got[1] == (11.0, 3)
        obs = {r["_batch_id"]: r for r in
               spark.read.parquet(str(tmp_path / "obs")).collect()}
        assert obs[0]["n"] == 2 and obs[0]["max_shift"] == 1.0
        assert obs[1]["n"] == 1 and obs[1]["max_shift"] == 1.0

    def test_replay_is_exactly_once(self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        path = str(tmp_path / "codebook")
        self._seed(spark, path)
        step = st.kmeans_update_stream(path)
        b = spark.createDataFrame([(1, [4.0])],
                                  "id long, embedding array<double>")
        step(b, 5)
        first, latest1 = self._latest(spark, path)
        step(b, 5)                       # replay the same batch id
        again, latest2 = self._latest(spark, path)
        assert (first, latest1) == (again, latest2)
        # the replayed version must NOT have compounded: c0 moved once
        assert first[0] == ((2 * 0.0 + 4.0) / 3, 3)

    def test_empty_batch_writes_nothing_and_missing_state_raises(
            self, spark, tmp_path):
        from spark_expectations_spark import streaming as st
        import pytest as _pytest
        path = str(tmp_path / "codebook")
        self._seed(spark, path)
        step = st.kmeans_update_stream(path)
        empty = spark.createDataFrame(
            [(1, None)], "id long, embedding array<double>")
        step(empty, 3)
        _, latest = self._latest(spark, path)
        assert latest == -1              # still the seed version
        with _pytest.raises(ValueError, match="seed it"):
            st.kmeans_update_stream(str(tmp_path / "nope"))(
                spark.createDataFrame([(1, [0.0])],
                                      "id long, embedding array<double>"),
                0)


class TestKmeansCodebookSlots:
    """kmeans_update_stream keeps at most two codebook versions: the one
    a batch read and the one it writes."""

    def test_state_stays_bounded_over_many_batches(self, spark, tmp_path):
        import random

        import pyspark.sql.functions as F
        from spark_expectations_spark import streaming as st
        k, dim = 4, 8
        path = str(tmp_path / "codebook")
        st.init_codebook_state(spark.createDataFrame(
            [(c, p, float(c * 10 + p), 5) for c in range(k)
             for p in range(dim)],
            "centroid_id int, pos int, coord double, n_assigned long"),
            path)
        rng = random.Random(3)
        step = st.kmeans_update_stream(path)
        for bid in range(16):
            step(spark.createDataFrame(
                [(i, [rng.uniform(0, 40) for _ in range(dim)])
                 for i in range(12)],
                "id long, embedding array<double>"), bid)
        state = spark.read.parquet(path)
        assert state.count() <= 2 * k * dim
        versions = {r["_batch_id"] for r in
                    state.select("_batch_id").distinct().collect()}
        assert versions == {14, 15}
        step(spark.createDataFrame([(0, [1.0] * dim)],
                                   "id long, embedding array<double>"), 15)
        replayed = spark.read.parquet(path)
        assert replayed.filter(F.col("_batch_id") == 14).count() == k * dim

    def test_state_of_the_batch_partitioned_layout_raises(self, spark,
                                                          tmp_path):
        from spark_expectations_spark import streaming as st
        path = str(tmp_path / "codebook")
        (spark.createDataFrame([(0, 0, 0.0, 2, -1)],
                               "centroid_id int, pos int, coord double, "
                               "n_seen long, _batch_id int")
         .write.partitionBy("_batch_id").parquet(path))
        with pytest.raises(ValueError, match="two-slot"):
            st.kmeans_update_stream(path)(spark.createDataFrame(
                [(1, [0.0])], "id long, embedding array<double>"), 0)


class TestStreamingStateRecipe:
    """The shared exactly-once state helpers behind the stream steps."""

    @pytest.mark.parametrize("name", [
        "corpus_append_dedup", "fuzzy_match_stream",
        "bloom_membership_stream", "compact_bloom_state"])
    def test_steps_release_their_local_checkpoints(self, spark, tmp_path,
                                                   name):
        """Two batches plus a replay of batch 1 (then, for
        compact_bloom_state, one compaction) leave no RDD persisted:
        every localCheckpoint a step takes is freed before it returns.
        Compared by RDD id against the ids persisted before, because
        the session is shared with other tests."""
        from spark_expectations_spark import streaming as st
        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        if name == "corpus_append_dedup":
            step = st.corpus_append_dedup(idx, "id", fp_col="key",
                                          out_path=out)
        elif name == "fuzzy_match_stream":
            step = st.fuzzy_match_stream(idx, "id", "key", out_path=out,
                                         register_unmatched=True)
        else:
            step = st.bloom_membership_stream(idx, "key", n_bits=2048, k=3,
                                              out_path=out)
        b1 = spark.createDataFrame([(1, "a.com"), (2, "b.com")],
                                   "id long, key string")
        b2 = spark.createDataFrame([(3, "a.com"), (4, "c.com")],
                                   "id long, key string")
        jsc = spark.sparkContext._jsc

        def persisted():
            return set(jsc.getPersistentRDDs().keySet().toArray())

        before = persisted()
        step(b1, 0)
        step(b2, 1)
        step(b2, 1)                      # replay
        if name == "compact_bloom_state":
            assert st.compact_bloom_state(spark, idx) > 0
        assert persisted() - before == set()

    def test_corpus_append_dedup_reads_pre_stamping_index(self, spark,
                                                          tmp_path):
        """A fingerprint index written before batch stamping (no
        ``_batch_id`` column) is still the dedup state: cross-batch
        duplicates are rejected, and the batch's own fingerprints land
        in a stamped partition."""
        from spark_expectations_spark import streaming as st
        idx, out = tmp_path / "fp_index", tmp_path / "corpus"
        spark.createDataFrame([("a",), ("b",)], "fingerprint string") \
            .write.parquet(str(idx))
        step = st.corpus_append_dedup(str(idx), "doc_id", out_path=str(out))
        step(spark.createDataFrame([(6, "c"), (7, "b"), (8, "a")],
                                   "doc_id long, fingerprint string"), 3)
        assert [(r["doc_id"], r["_batch_id"])
                for r in spark.read.parquet(str(out)).collect()] == [(6, 3)]
        stamped = spark.read.parquet(str(idx / "_batch_id=3"))
        assert [r["fingerprint"] for r in stamped.collect()] == ["c"]

    def test_corpus_append_dedup_keeps_pre_stamping_index_after_stamping(
            self, spark, tmp_path):
        """The legacy root-level files stay part of the index once
        stamped ``_batch_id=N/`` partitions sit beside them (partition
        discovery alone no longer reads them): a later batch still
        rejects a legacy fingerprint, and a replay of an earlier batch
        admits the same rows again."""
        from spark_expectations_spark import streaming as st
        idx, out = tmp_path / "fp_index", tmp_path / "corpus"
        spark.createDataFrame([("a",), ("b",)], "fingerprint string") \
            .write.parquet(str(idx))
        step = st.corpus_append_dedup(str(idx), "doc_id", out_path=str(out))
        batch3 = spark.createDataFrame([(6, "c"), (7, "b")],
                                       "doc_id long, fingerprint string")
        step(batch3, 3)
        step(spark.createDataFrame([(8, "a"), (9, "d")],
                                   "doc_id long, fingerprint string"), 4)
        step(batch3, 3)  # replay
        assert sorted((r["doc_id"], r["_batch_id"])
                      for r in spark.read.parquet(str(out)).collect()) \
            == [(6, 3), (9, 4)]
