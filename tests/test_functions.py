"""Tests for functions helpers over meta columns and rule builders."""

from spark_expectations_spark import DQConfig, DQEngine, Rule, RuleSet
from spark_expectations_spark import functions as dqf
from spark_expectations_spark.operators import row_dq


def _projected(spark, simple3):
    rules = [
        Rule("p", "t", "row_dq", "gt1", "col1", "col1 > 1", action_if_failed="drop"),
        Rule("p", "t", "row_dq", "is_c", "col2", "col2 != 'c'"),
    ]
    return row_dq.errors_from_flags(row_dq.project_flags(simple3, rules), rules)


class TestMetaHelpers:
    def test_failed_rule_names_and_actions(self, spark, simple3):
        p = _projected(spark, simple3)
        err = p.filter(dqf.any_rule_failed())
        rows = {r["row_id"]: r for r in
                err.select("row_id", dqf.failed_rule_names().alias("names")).collect()}
        assert rows[0]["names"] == ["gt1"]
        assert rows[2]["names"] == ["is_c"]
        assert p.filter(dqf.has_action("drop")).count() == 1
        assert p.filter(dqf.failed_rule("is_c")).count() == 1

    def test_builders_compile_and_run(self, spark, simple3):
        rules = RuleSet([
            Rule("p", "t", "row_dq", "nn", "col2", dqf.not_null("col2")),
            Rule("p", "t", "row_dq", "rng", "col1", dqf.in_range("col1", 1, 3)),
            Rule("p", "t", "row_dq", "set", "col2", dqf.in_set("col2", ["a", "b", "c"])),
            Rule("p", "t", "row_dq", "rx", "col2", dqf.matches("col2", "^[a-c]$")),
            Rule("p", "t", "row_dq", "uq", "row_id", dqf.unique("row_id")),
        ])
        cfg = DQConfig(product_id="p", table_name="t", write_error_table=False)
        res = DQEngine(cfg).run(simple3, rules, spark)
        assert res.error_count == 0

    def test_castable_and_date(self, spark):
        df = spark.createDataFrame(
            [("1", "1/15/2024"), ("x", "not-a-date")], "n string, d string")
        rules = RuleSet([
            Rule("p", "t", "row_dq", "num", "n", dqf.castable("n", "int")),
            Rule("p", "t", "row_dq", "dt", "d", dqf.date_parseable("d")),
        ])
        cfg = DQConfig(product_id="p", table_name="t", write_error_table=False)
        res = DQEngine(cfg).run(df, rules, spark)
        assert res.error_count == 1
        assert res.row_summary.rule_failed_counts == {"num": 1, "dt": 1}


class TestLiteralBackslashEscaping:
    def test_regex_with_backslash_class_survives(self, spark, simple3):
        """Spark string literals eat single backslashes, so matches()
        with \\d used to silently test against a literal 'd'."""
        import spark_expectations_spark.functions as dqf
        from spark_expectations_spark import (
            DQConfig, DQEngine, Rule, RuleSet)
        df = spark.createDataFrame(
            [(1, "a1"), (2, "ax")], "id int, s string")
        rules = RuleSet([Rule("p", "t", "row_dq", "rx", "s",
                              dqf.matches("s", r"^a\d$"))])
        res = DQEngine(DQConfig(product_id="p", table_name="t",
                                write_error_table=False)).run(
            df, rules, spark)
        assert res.row_summary.rule_failed_counts["rx"] == 1  # only 'ax'


class TestThinSurfaceHelpers:
    """Pin the convenience wrappers that had no direct test references
    (r9 verdict task 8: no public operator def without a test)."""

    def test_failed_by_tag(self, spark, simple3):
        rules = [
            Rule("p", "t", "row_dq", "gt1", "col1", "col1 > 1",
                 tag="validity", action_if_failed="drop"),
            Rule("p", "t", "row_dq", "is_c", "col2", "col2 != 'c'",
                 tag="accuracy"),
        ]
        p = row_dq.errors_from_flags(row_dq.project_flags(simple3, rules),
                                     rules)
        assert p.filter(dqf.failed_by_tag("validity")).count() == 1
        assert p.filter(dqf.failed_by_tag("accuracy")).count() == 1
        assert p.filter(dqf.failed_by_tag("absent")).count() == 0

    def test_rules_to_df_roundtrip(self, spark):
        from spark_expectations_spark.core.rules import RuleSet as RS
        rs = RuleSet([Rule("p", "t", "row_dq", "r1", "c", "c > 0")])
        df = rs.to_df(spark)
        back = RS.from_df(df)
        assert [r.rule for r in back.rules] == ["r1"]

    def test_read_parquet_helper(self, spark, tmp_path):
        from spark_expectations_spark.sources.readers import read_table
        p = str(tmp_path / "rp")
        spark.range(5).write.parquet(p)
        assert read_table(spark, "parquet", p).count() == 5

    def test_has_sort_merge_join_predicate(self, spark):
        from spark_expectations_spark import plans
        a = spark.range(0, 50000).selectExpr("id", "id % 7 as k")
        b = spark.range(0, 50000).selectExpr("id as id2", "id % 7 as k")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            smj = a.join(b, "k")
            assert plans.has_sort_merge_join(smj)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        from pyspark.sql import functions as F
        bc = a.join(F.broadcast(b), "k")
        assert not plans.has_sort_merge_join(bc)

    def test_with_event_time_sets_watermark(self, spark):
        from spark_expectations_spark import streaming as st
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        wm = st.with_event_time(stream, "timestamp", watermark="5 minutes")
        assert wm.isStreaming
        # the watermark node is visible in the analyzed logical plan
        assert "EventTimeWatermark" in wm._jdf.queryExecution().analyzed().toString()
