"""End-to-end engine slice tests on the canonical micro-fixture + lineitem."""

import pytest

from spark_expectations_spark import (
    DQAggFailError,
    DQConfig,
    DQEngine,
    DQRowFailError,
    Rule,
    RuleSet,
)


def _rule(**kw):
    base = dict(product_id="p1", table_name="t", rule_type="row_dq",
                rule="r", column_name="col1", expectation="col1 > 0")
    base.update(kw)
    return Rule(**base)


def mk_engine(**cfg_kw):
    cfg = DQConfig(product_id="p1", table_name="t", write_error_table=False, **cfg_kw)
    return DQEngine(cfg)


class TestRowDQ:
    def test_counts_and_split(self, spark, simple3):
        rules = RuleSet([
            _rule(rule="col1_gt_1", expectation="col1 > 1"),
            _rule(rule="col2_set", column_name="col2",
                  expectation="col2 in ('a','b','c')"),
        ])
        res = mk_engine().run(simple3, rules, spark)
        assert res.input_count == 3
        assert res.error_count == 1          # only row_id=0 fails col1 > 1
        assert res.output_count == 3         # action ignore: nothing dropped
        assert res.row_summary.rule_failed_counts == {"col1_gt_1": 1, "col2_set": 0}
        assert res.final_df.count() == 3
        assert res.error_df.count() == 1
        err = res.error_df.first()
        assert err["row_id"] == 0
        maps = err["meta_row_dq_results"]
        assert len(maps) == 1 and maps[0]["rule"] == "col1_gt_1"
        assert maps[0]["status"] == "fail"

    def test_drop_action(self, spark, simple3):
        rules = RuleSet([_rule(rule="gt1", expectation="col1 > 1",
                               action_if_failed="drop")])
        res = mk_engine().run(simple3, rules, spark)
        assert res.output_count == 2
        assert res.final_df.count() == 2
        assert "meta_row_dq_results" not in res.final_df.columns

    def test_grouped_rules_catch_per_segment_failures(self, spark):
        """A whole-table rule can pass while one segment is off — the
        grouped evaluator surfaces exactly which (group, rule) fails,
        with per-group actuals."""
        from spark_expectations_spark.operators import agg_dq
        df = spark.createDataFrame(
            [("a", 10), ("a", 12), ("b", 10), ("b", 100)],
            "seg string, v int")
        rules = [
            _rule(rule="avg_band", rule_type="agg_dq", column_name="v",
                  expectation="avg(v) between 5 and 20"),
            _rule(rule="cnt", rule_type="agg_dq", column_name="",
                  expectation="count(*) >= 2"),
        ]
        # whole-table avg = 33 -> the global rule ALSO fails here, but
        # the point is attribution: grouped shows a passes, b fails
        got = {(r["seg"], r["rule"]): (r["status"], r["actual_value"])
               for r in agg_dq.evaluate_agg_rules_grouped(
                   df, rules, ["seg"]).collect()}
        assert got[("a", "avg_band")] == ("pass", 11.0)
        assert got[("b", "avg_band")] == ("fail", 55.0)
        assert got[("a", "cnt")][0] == got[("b", "cnt")][0] == "pass"
        import pytest as _pytest
        with _pytest.raises(ValueError, match="non-empty"):
            agg_dq.evaluate_agg_rules_grouped(df, [], ["seg"])

    def test_engine_attaches_grouped_attribution(self, spark):
        """DQConfig.agg_group_cols: the engine lands a lazy per-segment
        frame next to the whole-table results without changing status
        or gating."""
        df = spark.createDataFrame(
            [("a", 10), ("a", 12), ("b", 10), ("b", 100)],
            "seg string, v int")
        rules = RuleSet([
            _rule(rule="avg_band", rule_type="agg_dq", column_name="v",
                  expectation="avg(v) between 5 and 40"),
        ])
        cfg = DQConfig(product_id="p", table_name="t",
                       write_error_table=False,
                       agg_group_cols=("seg",))
        res = DQEngine(cfg).run(df, rules, spark)
        # whole-table avg = 33 -> passes; segment b (55) fails — the
        # grouped frame attributes it while the run stays green
        assert res.status["source_agg_dq"] == "Passed"
        grouped = {(r["seg"], r["rule"]): r["status"]
                   for r in res.source_agg_grouped.collect()}
        assert grouped == {("a", "avg_band"): "pass",
                           ("b", "avg_band"): "fail"}
        # unset config -> no frame
        res2 = DQEngine(DQConfig(product_id="p", table_name="t",
                                 write_error_table=False)).run(
            df, rules, spark)
        assert res2.source_agg_grouped is None

    def test_fail_action(self, spark, simple3):
        rules = RuleSet([_rule(rule="gt1", expectation="col1 > 1",
                               action_if_failed="fail")])
        with pytest.raises(DQRowFailError):
            mk_engine().run(simple3, rules, spark)

    def test_null_predicate_is_failure(self, spark):
        df = spark.createDataFrame([(1,), (None,)], "col1 int")
        rules = RuleSet([_rule(rule="gt0", expectation="col1 > 0")])
        res = mk_engine().run(df, rules, spark)
        assert res.error_count == 1

    def test_window_rule(self, spark):
        df = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "z")], "pk int, v string")
        rules = RuleSet([_rule(
            rule="unique_pk", column_name="pk",
            expectation="count(*) over (partition by pk) = 1")])
        res = mk_engine().run(df, rules, spark)
        assert res.error_count == 2
        assert res.row_summary.rule_failed_counts["unique_pk"] == 2


class TestAggDQ:
    def test_pass_fail_and_actuals(self, spark, simple3):
        rules = RuleSet([
            _rule(rule="sum_gt", rule_type="agg_dq", column_name="col3",
                  expectation="sum(col3) > 20"),
            _rule(rule="avg_between", rule_type="agg_dq", column_name="col3",
                  expectation="avg(col3) between 18 and 25"),
            _rule(rule="cnt_distinct", rule_type="agg_dq", column_name="col2",
                  expectation="count(distinct col2) > 4"),
        ])
        res = mk_engine().run(simple3, rules, spark)
        by_name = {r.rule.rule: r for r in res.source_agg}
        assert by_name["sum_gt"].status == "pass"
        assert by_name["sum_gt"].actual_value == 60
        assert by_name["avg_between"].status == "pass"
        assert by_name["avg_between"].actual_value == 20.0
        assert by_name["avg_between"].expected == "between 18 and 25"
        assert by_name["cnt_distinct"].status == "fail"
        assert by_name["cnt_distinct"].actual_value == 3
        assert res.status["source_agg_dq"] == "Failed"

    def test_grouped_rules_catch_per_segment_failures(self, spark):
        """A whole-table rule can pass while one segment is off — the
        grouped evaluator surfaces exactly which (group, rule) fails,
        with per-group actuals."""
        from spark_expectations_spark.operators import agg_dq
        df = spark.createDataFrame(
            [("a", 10), ("a", 12), ("b", 10), ("b", 100)],
            "seg string, v int")
        rules = [
            _rule(rule="avg_band", rule_type="agg_dq", column_name="v",
                  expectation="avg(v) between 5 and 20"),
            _rule(rule="cnt", rule_type="agg_dq", column_name="",
                  expectation="count(*) >= 2"),
        ]
        # whole-table avg = 33 -> the global rule ALSO fails here, but
        # the point is attribution: grouped shows a passes, b fails
        got = {(r["seg"], r["rule"]): (r["status"], r["actual_value"])
               for r in agg_dq.evaluate_agg_rules_grouped(
                   df, rules, ["seg"]).collect()}
        assert got[("a", "avg_band")] == ("pass", 11.0)
        assert got[("b", "avg_band")] == ("fail", 55.0)
        assert got[("a", "cnt")][0] == got[("b", "cnt")][0] == "pass"
        import pytest as _pytest
        with _pytest.raises(ValueError, match="non-empty"):
            agg_dq.evaluate_agg_rules_grouped(df, [], ["seg"])

    def test_engine_attaches_grouped_attribution(self, spark):
        """DQConfig.agg_group_cols: the engine lands a lazy per-segment
        frame next to the whole-table results without changing status
        or gating."""
        df = spark.createDataFrame(
            [("a", 10), ("a", 12), ("b", 10), ("b", 100)],
            "seg string, v int")
        rules = RuleSet([
            _rule(rule="avg_band", rule_type="agg_dq", column_name="v",
                  expectation="avg(v) between 5 and 40"),
        ])
        cfg = DQConfig(product_id="p", table_name="t",
                       write_error_table=False,
                       agg_group_cols=("seg",))
        res = DQEngine(cfg).run(df, rules, spark)
        # whole-table avg = 33 -> passes; segment b (55) fails — the
        # grouped frame attributes it while the run stays green
        assert res.status["source_agg_dq"] == "Passed"
        grouped = {(r["seg"], r["rule"]): r["status"]
                   for r in res.source_agg_grouped.collect()}
        assert grouped == {("a", "avg_band"): "pass",
                           ("b", "avg_band"): "fail"}
        # unset config -> no frame
        res2 = DQEngine(DQConfig(product_id="p", table_name="t",
                                 write_error_table=False)).run(
            df, rules, spark)
        assert res2.source_agg_grouped is None

    def test_engine_attaches_target_grouped_attribution(self, spark):
        """r8 verdict task 3: the target-stage mirror — after row-dq
        drops, the TARGET agg rules get the same per-segment frame over
        final_df. Golden shape: every source check passes, the
        whole-table target rule passes, but ONE segment of the
        published table fails and target_agg_grouped names it."""
        df = spark.createDataFrame(
            [("a", 10, 1), ("a", 12, 1), ("b", 10, 0), ("b", 100, 1)],
            "seg string, v int, ok int")
        rules = RuleSet([
            _rule(rule="drop_bad", expectation="ok = 1",
                  action_if_failed="drop"),
            _rule(rule="seg_floor", rule_type="agg_dq", column_name="",
                  expectation="count(*) >= 4"),
            _rule(rule="avg_band", rule_type="agg_dq", column_name="v",
                  expectation="avg(v) between 5 and 45",
                  enable_for_source_dq_validation=False,
                  enable_for_target_dq_validation=True),
        ])
        cfg = DQConfig(product_id="p", table_name="t",
                       write_error_table=False,
                       agg_group_cols=("seg",))
        res = DQEngine(cfg).run(df, rules, spark)
        assert res.status["source_agg_dq"] == "Passed"
        # post-clean rows: a(10,12), b(100) -> whole-table avg 40.67
        # passes the band, segment b (100) fails it
        assert res.status["target_agg_dq"] == "Passed"
        grouped = {(r["seg"], r["rule"]): r["status"]
                   for r in res.target_agg_grouped.collect()}
        assert grouped == {("a", "avg_band"): "pass",
                           ("b", "avg_band"): "fail"}
        # unset config -> no frame
        res2 = DQEngine(DQConfig(product_id="p", table_name="t",
                                 write_error_table=False)).run(
            df, rules, spark)
        assert res2.target_agg_grouped is None

    def test_fail_action(self, spark, simple3):
        rules = RuleSet([_rule(rule="big", rule_type="agg_dq",
                               expectation="sum(col3) > 1000",
                               action_if_failed="fail")])
        with pytest.raises(DQAggFailError):
            mk_engine().run(simple3, rules, spark)

    def test_target_stage(self, spark, simple3):
        rules = RuleSet([
            _rule(rule="drop_small", expectation="col1 > 1", action_if_failed="drop"),
            _rule(rule="sum_after", rule_type="agg_dq",
                  expectation="sum(col3) = 50",
                  enable_for_source_dq_validation=False,
                  enable_for_target_dq_validation=True),
        ])
        res = mk_engine().run(simple3, rules, spark)
        assert not res.source_agg
        assert res.target_agg[0].status == "pass"  # 20+30 after drop


class TestQueryDQ:
    def test_scalar_subquery(self, spark, simple3):
        rules = RuleSet([
            _rule(rule="tot", rule_type="query_dq",
                  expectation="(select sum(col3) from src_view) > 20"),
        ])
        res = mk_engine(source_view="src_view").run(simple3, rules, spark)
        assert res.source_query[0].status == "pass"
        assert res.source_query[0].actual_value == 60

    def test_composite_with_secondary_output(self, spark, simple3):
        recs = [dict(
            product_id="p1", table_name="t", rule_type="query_dq",
            rule="cmp", column_name="col3",
            expectation="({total}) > ({half}@total@(select sum(col3) from src_view)"
                        "@half@(select sum(col3)/2 from src_view)",
            enable_querydq_custom_output=True,
            action_if_failed="ignore",
        )]
        # composite form: expr@alias@sql@alias@sql with {alias} placeholders
        recs[0]["expectation"] = (
            "({total}) > ({half})"
            "@total@(select sum(col3) as s from src_view)"
            "@half@(select sum(col3)/2 as h from src_view)"
        )
        rules = RuleSet.from_records(recs)
        res = mk_engine(source_view="src_view").run(simple3, rules, spark)
        q = res.source_query[0]
        assert q.status == "pass"
        assert q.secondary_output["total"] == [{"s": 60}]
        assert q.secondary_output["half"] == [{"h": 30.0}]

    def test_cross_table(self, spark, lineitem, orders):
        rules = RuleSet([
            _rule(rule="ref_int", rule_type="query_dq",
                  expectation="(select count(*) from lineitem_v l where not exists "
                              "(select 1 from orders_v o where o.o_orderkey = l.l_orderkey)) = 0"),
        ])
        cfg_views = {"lineitem_v": lineitem, "orders_v": orders}
        res = mk_engine(views=cfg_views).run(lineitem, rules, spark)
        assert res.source_query[0].status == "pass"


class TestQueryDQTimeout:
    """r5 verdict item 7: reference users hit slow scalar subqueries
    (accidental cross joins) that hang the whole DQ run — a per-stage
    runtime budget cancels the fused SELECT's job group and retries
    rule-by-rule, marking only the slow rule status='timeout'."""

    # a filtered range count: minutes of work at local[4], and RangeExec's
    # codegen polls the task-kill flag, so cancellation both fires AND
    # frees the task slots (an unfiltered cross-join loop would time out
    # too, but its zombie tasks would hog the slots — see the operator
    # docstring's interruptibility note)
    SLOW = ("(select count(*) from range(200000000000) "
            "where id % 3 = 0) >= 0")

    def test_generous_budget_leaves_results_unchanged(self, spark, simple3):
        from spark_expectations_spark.operators import query_dq
        simple3.createOrReplaceTempView("qt_view")
        rules = [
            _rule(rule="tot", rule_type="query_dq",
                  expectation="(select sum(col3) from qt_view) > 20"),
            _rule(rule="cnt", rule_type="query_dq",
                  expectation="(select count(*) from qt_view) = 99"),
        ]
        res = query_dq.evaluate_query_rules(spark, rules, timeout_s=120.0)
        assert [r.status for r in res] == ["pass", "fail"]
        assert res[0].actual_value == 60

    def test_slow_rule_times_out_fast_rule_still_evaluated(
            self, spark, simple3):
        from spark_expectations_spark.operators import query_dq
        simple3.createOrReplaceTempView("qt_view")
        rules = [
            _rule(rule="slow", rule_type="query_dq", expectation=self.SLOW),
            _rule(rule="fast", rule_type="query_dq",
                  expectation="(select sum(col3) from qt_view) > 20"),
        ]
        res = query_dq.evaluate_query_rules(spark, rules, timeout_s=3.0)
        by = {r.rule.rule: r for r in res}
        assert by["slow"].status == "timeout"
        assert by["slow"].actual_value is None
        assert by["fast"].status == "pass"
        assert by["fast"].actual_value == 60
        # timeout gates like failure
        assert [r.rule.rule for r in query_dq.failed(res)] == ["slow"]
        # the cancelled job group must not poison later queries, and
        # EVERY thread-local property setJobGroup stamped is cleared
        # (a leaked description/interruptOnCancel would misattribute
        # all later jobs on this thread)
        assert spark.sql("select 1 as x").first()["x"] == 1
        sc = spark.sparkContext
        assert sc.getLocalProperty("spark.jobGroup.id") is None
        assert sc.getLocalProperty("spark.job.description") is None
        assert sc.getLocalProperty("spark.job.interruptOnCancel") is None

    def test_budget_restores_callers_job_group(self, spark, simple3):
        """ADVICE r6: clusters wrap whole pipelines in setJobGroup for
        cost attribution — the budget watchdog must RESTORE the caller's
        thread-local job-group properties, not null them."""
        from spark_expectations_spark.operators import query_dq
        simple3.createOrReplaceTempView("qt_view")
        rules = [_rule(rule="tot", rule_type="query_dq",
                       expectation="(select sum(col3) from qt_view) > 20")]
        sc = spark.sparkContext
        sc.setJobGroup("caller-group", "caller pipeline",
                       interruptOnCancel=False)
        try:
            res = query_dq.evaluate_query_rules(spark, rules, timeout_s=60.0)
            assert res[0].status == "pass"
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
            assert sc.getLocalProperty(
                "spark.job.description") == "caller pipeline"
            assert sc.getLocalProperty(
                "spark.job.interruptOnCancel") == "false"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)

    def test_slow_secondary_budgeted_on_fused_success_path(
            self, spark, simple3):
        """Review fix: the fused SELECT finishing under budget must not
        leave secondary audit queries as an unbudgeted back door — a
        slow secondary times out, lands in timed_out_secondaries (NOT
        as an empty capture), and the rule still reports pass/fail."""
        simple3.createOrReplaceTempView("qt_view")
        recs = [dict(
            product_id="p1", table_name="t", rule_type="query_dq",
            rule="cmp", column_name="col3",
            expectation=(
                "({total}) > 20"
                "@total@(select sum(col3) as s from qt_view)"
                "@slowaudit@(select count(*) as c from "
                "range(200000000000) where id % 3 = 0)"
            ),
            enable_querydq_custom_output=True,
            action_if_failed="ignore",
        )]
        from spark_expectations_spark import RuleSet
        from spark_expectations_spark.operators import query_dq
        rules = RuleSet.from_records(recs)
        res = query_dq.evaluate_query_rules(
            spark, list(rules.rules), timeout_s=3.0)
        q = res[0]
        assert q.status == "pass"                       # primary ran
        assert q.secondary_output["total"] == [{"s": 60}]
        assert "slowaudit" not in q.secondary_output     # not a fake []
        assert q.timed_out_secondaries == ["slowaudit"]
        assert q.result_map()["timed_out_secondaries"] == "slowaudit"

    def test_timeout_counts_as_fail_in_stats_row(self, spark, simple3):
        """Review fix: rules_execution_summary counted a timed-out
        query rule as a PASS (status=='fail' counting) while
        failed()/enforce gated it as a failure — the stats row must
        agree with the gate."""
        rules = RuleSet([
            _rule(rule="slow_ig", rule_type="query_dq",
                  expectation=self.SLOW, action_if_failed="ignore"),
        ])
        res = mk_engine(query_timeout_s=3.0).run(simple3, rules, spark)
        assert res.source_query[0].status == "timeout"
        assert res.stats_record()["dq_rules"]["query_dq"] == \
            {"pass": 0, "fail": 1}
        assert res.status["source_query_dq"] == "Failed"

    def test_engine_wires_budget_and_fail_action(self, spark, simple3):
        from spark_expectations_spark.operators.agg_dq import DQAggFailError
        rules = RuleSet([
            _rule(rule="slow_gate", rule_type="query_dq",
                  expectation=self.SLOW, action_if_failed="fail"),
        ])
        with pytest.raises(DQAggFailError, match="slow_gate"):
            mk_engine(query_timeout_s=3.0).run(simple3, rules, spark)

    def test_no_budget_means_no_job_group_machinery(self, spark, simple3):
        """timeout_s=None must take the exact legacy path (no watchdog
        thread, no job-group property left behind)."""
        from spark_expectations_spark.operators import query_dq
        simple3.createOrReplaceTempView("qt_view")
        rules = [_rule(rule="tot", rule_type="query_dq",
                       expectation="(select sum(col3) from qt_view) > 20")]
        res = query_dq.evaluate_query_rules(spark, rules)
        assert res[0].status == "pass"
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


class TestQueryDQBudgetTag:
    """The query_dq budget tags its jobs instead of setting a job group,
    so a pipeline that cancels its own group still reaches them."""

    def test_budgeted_jobs_stay_in_callers_group(self, spark, simple3):
        from spark_expectations_spark.operators import query_dq
        simple3.createOrReplaceTempView("qt_view")
        rules = [_rule(rule="tot", rule_type="query_dq",
                       expectation="(select sum(col3) from qt_view) > 20")]
        sc = spark.sparkContext
        sc.setJobGroup("caller-budget-group", "caller pipeline")
        try:
            res = query_dq.evaluate_query_rules(spark, rules, timeout_s=60.0)
        finally:
            for p in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                sc.setLocalProperty(p, None)
        assert res[0].status == "pass"
        assert sc.statusTracker().getJobIdsForGroup("caller-budget-group")
        assert not sc.getJobTags()


class TestDQConfigSurface:
    def test_field_names(self):
        """Every DQConfig field is an option the engine must honour and
        the tests must cover; a new one shows up here as a diff."""
        import dataclasses
        assert [f.name for f in dataclasses.fields(DQConfig)] == [
            "product_id", "table_name", "params", "source_view",
            "target_view", "views",
            "write_error_table", "error_table", "error_writer",
            "write_stats_table", "stats_table", "stats_writer",
            "enable_detailed_stats",
            "target_table", "target_writer",
            "use_temp_table", "temp_writer", "query_timeout_s",
            "agg_group_cols", "notifications",
        ]


class TestStats:
    def test_stats_record(self, spark, simple3):
        rules = RuleSet([
            _rule(rule="gt1", expectation="col1 > 1"),
            _rule(rule="sum_gt", rule_type="agg_dq", expectation="sum(col3) > 20"),
        ])
        res = mk_engine().run(simple3, rules, spark)
        rec = res.stats_record()
        assert rec["input_count"] == 3 and rec["error_count"] == 1
        assert rec["error_percentage"] == pytest.approx(33.33)
        assert rec["success_percentage"] == pytest.approx(66.67)
        assert rec["dq_status"]["row_dq"] == "Failed"
        assert rec["dq_rules"]["row_dq"] == {"pass": 0, "fail": 1}
        from spark_expectations_spark.sinks.writer import stats_df
        sdf = stats_df(spark, res)
        assert sdf.count() == 1
        assert sdf.first()["input_count"] == 3

    def test_error_table_write(self, spark, simple3, tmp_path):
        from spark_expectations_spark import WriterOptions
        cfg_kw = dict(
            write_error_table=True,
            error_writer=WriterOptions(path=str(tmp_path), mode="overwrite"),
        )
        cfg = DQConfig(product_id="p1", table_name="t", **cfg_kw)
        rules = RuleSet([_rule(rule="gt1", expectation="col1 > 1")])
        res = DQEngine(cfg).run(simple3, rules, spark)
        err = spark.read.parquet(str(tmp_path / "t_error"))
        assert err.count() == 1
        assert "meta_dq_run_id" in err.columns
        assert err.first()["meta_dq_run_id"] == res.run_id


class TestLineitemE2E:
    def test_flagship(self, spark, lineitem):
        rules = RuleSet([
            _rule(rule="qty_range", column_name="l_quantity",
                  expectation="l_quantity between 1 and 50"),
            _rule(rule="disc_small", column_name="l_discount",
                  expectation="l_discount between 0 and 0.05"),
            _rule(rule="pk_unique", column_name="l_orderkey",
                  expectation="count(*) over (partition by l_orderkey, l_linenumber) = 1"),
            _rule(rule="cnt", rule_type="agg_dq", expectation="count(*) > 0"),
        ])
        res = mk_engine().run(lineitem, rules, spark)
        assert res.input_count == lineitem.count()
        assert res.error_count > 0           # dup keys + high discounts exist
        assert res.source_agg[0].status == "pass"
        # error rows + clean rows partition the input
        clean = res.input_count - res.error_count
        assert res.error_df.count() == res.error_count
        assert clean + res.error_count == res.input_count


class TestEmptyInput:
    def test_empty_frame_run_is_clean(self, spark):
        from spark_expectations_spark import DQConfig, DQEngine, Rule, RuleSet
        df = spark.createDataFrame([], "col1 int, col2 string")
        rules = RuleSet([
            Rule("p1", "t", "row_dq", "r1", "col1", "col1 > 1",
                 action_if_failed="drop"),
            Rule("p1", "t", "agg_dq", "a1", "col1", "count(*) >= 0"),
        ])
        cfg = DQConfig(product_id="p1", table_name="t", write_error_table=False)
        res = DQEngine(cfg).run(df, rules, spark)
        assert res.input_count == 0
        assert res.error_count == 0 and res.output_count == 0
        # percentages must not divide by zero
        assert res.error_percentage == 0.0
        assert res.success_percentage == 0.0
        assert res.final_df.count() == 0
        assert res.stats_record()["input_count"] == 0


class TestAwkwardSchemas:
    def test_reserved_word_and_spaced_columns(self, spark):
        """Rules over backtick-quoted reserved words / spaced column names
        must flow through projection, summary, and action filtering."""
        from spark_expectations_spark import DQConfig, DQEngine, Rule, RuleSet
        df = spark.createDataFrame([(1, 5), (2, 0)],
                                   "`order` int, `some col` int")
        rules = RuleSet([
            Rule("p", "t", "row_dq", "r1", "order", "`order` > 1",
                 action_if_failed="drop"),
            Rule("p", "t", "row_dq", "r2", "some col", "`some col` >= 0"),
        ])
        cfg = DQConfig(product_id="p", table_name="t", write_error_table=False)
        res = DQEngine(cfg).run(df, rules, spark)
        assert (res.input_count, res.error_count, res.output_count) == (2, 1, 1)
        assert sorted(res.final_df.columns) == ["order", "some col"]


class TestStatsOnFailure:
    def test_stats_written_when_run_aborts(self, spark, simple3, tmp_path):
        """Reference parity (collect_statistics decorator): the audit
        stats row lands even when a fail-action aborts the run, carrying
        the statuses reached before the abort."""
        import pytest
        from spark_expectations_spark import (DQConfig, DQEngine,
                                              DQRowFailError, Rule, RuleSet,
                                              WriterOptions)
        rules = RuleSet([Rule("p1", "t", "row_dq", "gt1", "col1", "col1 > 1",
                              action_if_failed="fail")])
        cfg = DQConfig(
            product_id="p1", table_name="t", write_error_table=False,
            write_stats_table=True, stats_table="t_stats",
            stats_writer=WriterOptions(mode="overwrite", path=str(tmp_path)))
        with pytest.raises(DQRowFailError):
            DQEngine(cfg).run(simple3, rules, spark)
        stats = spark.read.parquet(str(tmp_path / "t_stats"))
        row = stats.first()
        assert stats.count() == 1
        assert row["dq_status"]["row_dq"] == "Failed"
        assert row["input_count"] == 3


class TestTempTableWithFusion:
    def test_temp_table_materializes_on_fused_path(self, spark, simple3, tmp_path):
        """use_temp_table + source agg rules: the lineage-severing write
        happens once, before the fused agg+summary job, and the run's
        counts/statuses are unchanged."""
        from spark_expectations_spark import (DQConfig, DQEngine, Rule,
                                              RuleSet, WriterOptions)
        rules = RuleSet([
            Rule("p1", "t", "row_dq", "gt1", "col1", "col1 > 1",
                 action_if_failed="drop"),
            Rule("p1", "t", "agg_dq", "sum_ok", "col3", "sum(col3) > 20"),
        ])
        cfg = DQConfig(
            product_id="p1", table_name="t", write_error_table=False,
            use_temp_table=True,
            temp_writer=WriterOptions(mode="overwrite", path=str(tmp_path)))
        res = DQEngine(cfg).run(simple3, rules, spark)
        assert (res.input_count, res.error_count, res.output_count) == (3, 1, 2)
        assert res.status["source_agg_dq"] == "Passed"
        # the temp materialization landed
        assert spark.read.parquet(str(tmp_path / "t_temp")).count() == 3


class TestIncrementalDQ:
    def _mk_state_table(self, spark, name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"CREATE TABLE {name} (dummy INT) USING parquet")

    def test_only_new_rows_validated_and_mark_advances(self, spark):
        from spark_expectations_spark.core.incremental import (
            get_watermark, run_incremental,
        )
        self._mk_state_table(spark, "inc_state")
        try:
            rules = RuleSet([Rule("p", "t", "row_dq", "v_pos", "v", "v > 0")])
            cfg = DQConfig(product_id="p", table_name="t",
                           write_error_table=False)
            day1 = spark.createDataFrame(
                [("2026-08-01", 1), ("2026-08-01", -1)], ["dt", "v"])
            r1 = run_incremental(cfg, rules, day1, "dt", "inc_state")
            assert r1.input_count == 2 and r1.error_count == 1
            assert get_watermark(spark, "inc_state") == "2026-08-01"

            # second cycle: union of old + new; only new rows are validated
            both = day1.union(spark.createDataFrame(
                [("2026-08-02", 5), ("2026-08-02", 6)], ["dt", "v"]))
            r2 = run_incremental(cfg, rules, both, "dt", "inc_state")
            assert r2.input_count == 2 and r2.error_count == 0
            assert get_watermark(spark, "inc_state") == "2026-08-02"

            # third cycle: nothing new -> no run, mark untouched
            assert run_incremental(cfg, rules, both, "dt", "inc_state") is None
            assert get_watermark(spark, "inc_state") == "2026-08-02"
        finally:
            spark.sql("DROP TABLE IF EXISTS inc_state")

    def test_failed_run_leaves_mark(self, spark):
        from spark_expectations_spark import DQRowFailError
        from spark_expectations_spark.core.incremental import (
            get_watermark, run_incremental,
        )
        self._mk_state_table(spark, "inc_state2")
        try:
            rules = RuleSet([Rule("p", "t", "row_dq", "v_pos", "v", "v > 0",
                                  action_if_failed="fail")])
            cfg = DQConfig(product_id="p", table_name="t",
                           write_error_table=False)
            bad = spark.createDataFrame([("2026-08-01", -1)], ["dt", "v"])
            with pytest.raises(DQRowFailError):
                run_incremental(cfg, rules, bad, "dt", "inc_state2")
            assert get_watermark(spark, "inc_state2") is None  # re-validated next cycle
        finally:
            spark.sql("DROP TABLE IF EXISTS inc_state2")


class TestIncrementalUpsertLoop:
    def test_validate_then_merge_cycle(self, spark, tmp_path):
        """The lake maintenance loop end-to-end: incremental DQ validates
        only the new partition, its surviving rows upsert into the serving
        table, old partitions' files stay untouched."""
        import os

        from spark_expectations_spark.core.incremental import run_incremental
        from spark_expectations_spark.sinks.writer import upsert_partitioned

        spark.sql("DROP TABLE IF EXISTS loop_state")
        spark.sql("CREATE TABLE loop_state (dummy INT) USING parquet")
        serving = str(tmp_path / "serving")
        try:
            rules = RuleSet([Rule("p", "t", "row_dq", "v_pos", "v", "v > 0",
                                  action_if_failed="drop")])
            cfg = DQConfig(product_id="p", table_name="t",
                           write_error_table=False)

            day1 = spark.createDataFrame(
                [(1, "2026-08-01", 10), (2, "2026-08-01", -5)],
                ["id", "dt", "v"])
            r1 = run_incremental(cfg, rules, day1, "dt", "loop_state")
            r1.final_df.write.partitionBy("dt").parquet(serving)
            assert spark.read.parquet(serving).count() == 1  # -5 dropped

            d1_dir = f"{serving}/dt=2026-08-01"
            before = sorted(os.listdir(d1_dir))

            both = day1.union(spark.createDataFrame(
                [(3, "2026-08-02", 7), (1, "2026-08-02", 11)],
                ["id", "dt", "v"]))
            r2 = run_incremental(cfg, rules, both, "dt", "loop_state")
            assert r2.input_count == 2
            upsert_partitioned(spark, serving, r2.final_df, ["id", "dt"], "dt")

            got = {(r.id, str(r.dt), r.v)
                   for r in spark.read.parquet(serving).collect()}
            assert got == {(1, "2026-08-01", 10), (3, "2026-08-02", 7),
                           (1, "2026-08-02", 11)}
            assert sorted(os.listdir(d1_dir)) == before  # day1 untouched
        finally:
            spark.sql("DROP TABLE IF EXISTS loop_state")


class TestReprocessQuarantine:
    def test_relaxed_rules_recover_rows(self, spark, lineitem):
        """Quarantine rows under a tight rule, relax it, reprocess: rows
        passing the new rules recover with the USER schema; rows still
        failing come back in error-table shape with refreshed meta."""
        from spark_expectations_spark import reprocess_quarantine
        from spark_expectations_spark.operators import row_dq
        tight = [Rule("p", "t", "row_dq", "qty", "l_quantity",
                      "l_quantity < 30", action_if_failed="drop")]
        flags = row_dq.project_flags(lineitem, tight)
        quarantined = row_dq.errors_from_flags(flags, tight)
        n_q = quarantined.count()
        assert n_q > 0
        relaxed = RuleSet([Rule("p", "t", "row_dq", "qty", "l_quantity",
                                "l_quantity < 45", action_if_failed="drop")])
        recovered, still = reprocess_quarantine(quarantined, relaxed)
        n_rec, n_still = recovered.count(), still.count()
        assert n_rec > 0 and n_still > 0
        assert n_rec + n_still == n_q
        assert row_dq.META_ROW_RESULTS not in recovered.columns
        assert row_dq.META_ROW_RESULTS in still.columns
        # round-5 ADVICE fix: still_failing carries the same run-meta
        # columns the engine-written error table has, so overwriting the
        # quarantine keeps the stored schema identical
        assert row_dq.META_RUN_ID in still.columns
        assert row_dq.META_RUN_DATETIME in still.columns
        assert row_dq.META_RUN_ID not in recovered.columns
        rid = still.select(row_dq.META_RUN_ID).first()[0]
        assert rid.startswith("reprocess_")
        _, still2 = reprocess_quarantine(quarantined, relaxed,
                                         run_id="custom_run")
        assert still2.select(row_dq.META_RUN_ID).first()[0] == "custom_run"
        # recovered rows genuinely pass: quantities in [30, 45)
        from pyspark.sql import functions as F
        mm = recovered.agg(F.min("l_quantity"), F.max("l_quantity")).first()
        assert mm[0] >= 30 and mm[1] < 45

    def test_ignore_failures_stay_quarantined(self, spark):
        """A row failing only an ignore-action rule is still an error —
        it must NOT count as recovered."""
        from spark_expectations_spark import reprocess_quarantine
        from spark_expectations_spark.operators import row_dq
        rules = [Rule("p", "t", "row_dq", "pos", "v", "v > 0",
                      action_if_failed="ignore")]
        df = spark.createDataFrame([(1, -5), (2, 7)], "id long, v long")
        flags = row_dq.project_flags(df, rules)
        q = row_dq.errors_from_flags(flags, rules)
        recovered, still = reprocess_quarantine(q, rules)
        assert recovered.count() == 0 and still.count() == 1

    def test_requires_row_rules(self, spark):
        from spark_expectations_spark import reprocess_quarantine
        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError):
            reprocess_quarantine(
                df, [Rule("p", "t", "agg_dq", "c", "", "count(*) > 0")])


class TestRound5ReviewFixes:
    """Regressions for the round-5 core/notifications review findings."""

    def test_not_between_agg_rule_runs(self, spark, lineitem):
        """'x NOT between lo and hi' must evaluate (the NOT belongs to
        the operator — F.expr('avg(x) not') crashed the whole stage)."""
        from spark_expectations_spark.operators.agg_dq import (
            evaluate_agg_rules, parse_expectation)
        p = parse_expectation("avg(l_quantity) not between 100 and 200")
        assert p.source_expr == "avg(l_quantity)"
        assert p.op == "not between"
        res = evaluate_agg_rules(lineitem, [Rule(
            "p", "t", "agg_dq", "nb", "l_quantity",
            "avg(l_quantity) not between 100 and 200")])
        assert res[0].status == "pass"          # avg ~25, outside [100,200]
        assert res[0].actual_value is not None  # measured value extracted

    def test_params_leave_literal_braces_alone(self, spark):
        """A regex quantifier {5} in an expectation must survive params
        substitution (str.format crashed on it)."""
        from spark_expectations_spark import RuleSet
        rs = RuleSet.from_records(
            [{"product_id": "p", "table_name": "t_{env}",
              "rule_type": "row_dq", "rule": "zip",
              "column_name": "z", "expectation": r"z rlike '^[0-9]{5}$'"}],
            params={"env": "prod"})
        assert rs.rules[0].table_name == "t_prod"
        assert rs.rules[0].expectation == r"z rlike '^[0-9]{5}$'"
        df = spark.createDataFrame([("12345",), ("abc",)], "z string")
        from spark_expectations_spark.operators import row_dq
        flags = row_dq.project_flags(df, rs.rules)
        assert flags.filter(row_dq._any_flag(rs.rules)).count() == 1

    def test_composite_delimiter_inside_quotes(self):
        """A literal '@' inside a SQL string is not a composite split."""
        from spark_expectations_spark.core.rules import parse_composite
        r = Rule("p", "t", "query_dq", "corp", "",
                 "(select count(*) from users where email like '%@corp.com') = 0")
        out = parse_composite(r)
        assert out.expectation == r.expectation
        assert not out.secondary_queries
        # real composites still split
        r2 = Rule("p", "t", "query_dq", "c2", "",
                  "{a} = 0@a@select count(*) from t where s like '%@x%'")
        out2 = parse_composite(r2)
        assert out2.secondary_queries == {
            "a": "select count(*) from t where s like '%@x%'"}
        assert out2.expectation == \
            "select count(*) from t where s like '%@x%' = 0"

    def test_looks_aggregate_modern_functions(self):
        from spark_expectations_spark.core.rules import looks_aggregate
        for e in ("count_if(l_quantity < 0) = 0",
                  "approx_count_distinct(id) > 1000",
                  "percentile(x, 0.5) < 10",
                  "bool_and(ok)", "max_by(a, b) = 1", "skewness(v) < 2"):
            assert looks_aggregate(e), e
        assert not looks_aggregate("col1 > 5")

    def test_incremental_bootstraps_without_state_table(self, spark, lineitem):
        """First incremental run: the state table (the stats table the
        engine itself creates) does not exist yet — must mean 'no mark,
        full pass', not TABLE_OR_VIEW_NOT_FOUND."""
        from spark_expectations_spark.core.incremental import get_watermark
        spark.sql("DROP TABLE IF EXISTS nonexistent_state_tbl")
        assert get_watermark(spark, "nonexistent_state_tbl") is None

    def test_streaming_run_fires_notifications(self, spark, tmp_path):
        from spark_expectations_spark.notifications import (
            NotificationHub, NotificationRules)
        events = []
        hub = NotificationHub(NotificationRules(notify_on_start=True, notify_on_completion=True))
        hub.register(lambda ev, payload: events.append(ev))
        src = (spark.readStream.format("rate")
               .option("rowsPerSecond", "10").load()
               .selectExpr("value as col1"))
        cfg = DQConfig(product_id="p", table_name="t",
                       write_error_table=False, notifications=hub)
        rules = RuleSet([Rule("p", "t", "row_dq", "pos", "col1",
                              "col1 >= 0", action_if_failed="drop")])
        res = DQEngine(cfg).run(src, rules, spark)
        assert res.final_df.isStreaming
        assert "start" in events and "completion" in events

    def test_ignored_digest_text_renders_rules(self):
        from spark_expectations_spark.notifications import (
            format_notification_text)
        txt = format_notification_text("ignored_rules", {
            "product_id": "p", "ignored": [
                {"rule": "qty", "failed_count": 7, "priority": "high"}]})
        assert "Ignore-action rules failed silently" in txt
        assert "rule=qty" in txt and "failed=7" in txt

    @pytest.mark.parametrize("rule_type, expectation, error", [
        ("row_dq", "col1 > 100", DQRowFailError),
        # with row_dq on, the source agg rule rides the fused
        # row-summary job and aborts the run before the row stage
        ("agg_dq", "sum(col3) > 1000", DQAggFailError),
    ], ids=["row", "source_agg"])
    def test_fail_action_leaves_nothing_persisted(
            self, spark, simple3, rule_type, expectation, error):
        """Every exit path releases what it took: a default-config run
        that aborts on a fail action leaves no RDD persisted."""
        jsc = spark.sparkContext._jsc.sc()

        def ids():
            it = jsc.getPersistentRDDs().keys().iterator()
            s = set()
            while it.hasNext():
                s.add(it.next())
            return s

        before = ids()
        cfg = DQConfig(product_id="p", table_name="t",
                       write_error_table=False)
        rules = RuleSet([
            Rule("p", "t", "row_dq", "pos", "col1", "col1 > 0",
                 action_if_failed="drop"),
            Rule("p", "t", rule_type, "big", "col1", expectation,
                 action_if_failed="fail"),
        ])
        with pytest.raises(error):
            DQEngine(cfg).run(simple3, rules, spark)
        assert not (ids() - before), "RDD left persisted after the abort"

    def test_reprocess_list_skips_inactive_rules(self, spark):
        from spark_expectations_spark import reprocess_quarantine
        from spark_expectations_spark.operators import row_dq
        active = Rule("p", "t", "row_dq", "pos", "v", "v > 0",
                      action_if_failed="drop")
        disabled = Rule("p", "t", "row_dq", "old", "v", "v > 100",
                        action_if_failed="drop", is_active=False)
        df = spark.createDataFrame([(1, 50), (2, -5)], "id long, v long")
        flags = row_dq.project_flags(df, [active, disabled])
        q = row_dq.errors_from_flags(flags, [active, disabled])
        # plain list: the disabled rule must not keep row id=1 quarantined
        rec, still = reprocess_quarantine(q, [active, disabled])
        assert {r["id"] for r in rec.collect()} == {1}
        assert {r["id"] for r in still.collect()} == {2}

    def test_agg_only_run_counts_without_extra_scan(self, spark, lineitem):
        """Agg-only rule set: input_count rides the agg job (fused
        count) and matches the table size."""
        cfg = DQConfig(product_id="p", table_name="t",
                       write_error_table=False)
        rules = RuleSet([Rule("p", "t", "agg_dq", "cnt", "",
                              "count(*) > 0")])
        res = DQEngine(cfg).run(lineitem, rules, spark)
        assert res.input_count == lineitem.count()
        assert res.status["row_dq"] == "Skipped"


class TestEngineJobBudget:
    """The Spark-job budget of a full five-stage run, pinned: a change
    that adds a scan or a write to the engine shows up here as a count
    change, not only as a slower benchmark."""

    @staticmethod
    def _rules():
        from spark_expectations_spark.queries import lineitem_row_rules

        def mk(rule_type, name, exp, target=False):
            return Rule("p", "lineitem", rule_type, name, "", exp,
                        enable_for_source_dq_validation=not target,
                        enable_for_target_dq_validation=target)

        return RuleSet(lineitem_row_rules() + [
            mk("agg_dq", "cnt_pos", "count(*) > 0"),
            mk("agg_dq", "avg_disc", "avg(l_discount) between 0 and 0.1"),
            mk("agg_dq", "final_max_disc", "max(l_discount) <= 0.05",
               target=True),
            mk("query_dq", "orders_cover",
               "(select count(*) from orders) >= "
               "(select count(distinct l_orderkey) from lineitem)"),
            mk("query_dq", "final_not_larger",
               "(select count(*) from lineitem_final) <= "
               "(select count(*) from lineitem)", target=True),
        ])

    @pytest.mark.parametrize("detailed, jobs", [(False, 20), (True, 25)])
    def test_full_run_job_count(self, spark, lineitem, orders, tmp_path,
                                detailed, jobs):
        from spark_expectations_spark import WriterOptions
        sink = WriterOptions(format="parquet", mode="overwrite",
                             path=str(tmp_path))
        cfg = DQConfig(product_id="p", table_name="lineitem",
                       source_view="lineitem", target_view="lineitem_final",
                       views={"orders": orders},
                       write_error_table=True, error_writer=sink,
                       write_stats_table=True, stats_writer=sink,
                       enable_detailed_stats=detailed)
        # a frame another test left cached would change the plans
        spark.catalog.clearCache()
        sc = spark.sparkContext
        group = f"dq-job-budget-{detailed}"
        sc.setJobGroup(group, "DQEngine job budget")
        try:
            res = DQEngine(cfg).run(lineitem, self._rules(), spark)
            res.final_df.write.format("noop").mode("overwrite").save()
        finally:
            for p in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                sc.setLocalProperty(p, None)
        assert res.status["row_dq"] == "Failed"
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
