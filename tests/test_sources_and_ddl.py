"""Tests for source readers, temp-table materialization, table properties."""

import pytest

from spark_expectations_spark import DQConfig, DQEngine, Rule, RuleSet, WriterOptions
from spark_expectations_spark.sources import readers
from spark_expectations_spark.sinks import writer


class TestReaders:
    def test_csv_roundtrip(self, spark, tmp_path):
        p = tmp_path / "data.csv"
        p.write_text("id,name\n1,alpha\n2,beta\n")
        df = readers.read_csv(spark, str(p))
        assert df.count() == 2
        assert df.schema["id"].dataType.typeName() == "integer"

    def test_csv_explicit_schema(self, spark, tmp_path):
        p = tmp_path / "data.csv"
        p.write_text("id,name\n1,alpha\n")
        df = readers.read_csv(spark, str(p), schema="id long, name string")
        assert df.schema["id"].dataType.typeName() == "long"

    def test_rate_stream_is_streaming(self, spark):
        df = readers.rate_stream(spark, rows_per_second=10)
        assert df.isStreaming

    def test_orc_roundtrip(self, spark, tmp_path):
        src = spark.range(10).withColumnRenamed("id", "k")
        writer.write_batch(src, "t_orc",
                           WriterOptions(format="orc", mode="overwrite",
                                         path=str(tmp_path)))
        back = readers.read_table(spark, "orc", str(tmp_path / "t_orc"))
        assert back.count() == 10
        assert back.schema["k"].dataType.typeName() == "long"

    def test_json_roundtrip_via_read_table(self, spark, tmp_path):
        src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
        writer.write_batch(src, "t_json",
                           WriterOptions(format="json", mode="overwrite",
                                         path=str(tmp_path)))
        back = readers.read_table(spark, "json", str(tmp_path / "t_json"),
                                  schema="id long, name string")
        assert sorted(r["name"] for r in back.collect()) == ["a", "b"]

    def test_orc_pushdown_survives(self, spark, tmp_path):
        """Columnar contract: a filtered 1-column projection over ORC must
        push the predicate into the scan, same as parquet."""
        from spark_expectations_spark import plans
        spark.range(100).selectExpr("id AS k", "id * 2 AS v") \
            .write.mode("overwrite").orc(str(tmp_path / "orc_t"))
        df = readers.read_table(spark, "orc", str(tmp_path / "orc_t")) \
            .filter("k > 50").select("v")
        assert plans.has_pushed_filters(df)

    def test_jsonl_quarantine_splits_good_and_bad(self, spark, tmp_path):
        p = tmp_path / "data.jsonl"
        p.write_text(
            '{"id": 1, "name": "alpha"}\n'
            'this is not json at all\n'
            '{"id": 2, "name": "beta"}\n'
            '{"id": "oops", "name": 3, }\n')
        good, bad = readers.read_jsonl_quarantine(
            spark, str(p), "id long, name string")
        rows = {r["id"]: r["name"] for r in good.collect()}
        assert rows == {1: "alpha", 2: "beta"}
        assert "_corrupt_record" not in good.columns
        quarantined = [r["_corrupt_record"] for r in bad.collect()]
        assert len(quarantined) == 2
        assert any("not json" in q for q in quarantined)
        # narrow quarantine table: select AFTER the filter is legal
        assert bad.select("_corrupt_record").count() == 2

    def test_jsonl_quarantine_all_good_is_empty_bad(self, spark,
                                                    tmp_path):
        p = tmp_path / "ok.jsonl"
        p.write_text('{"id": 1, "name": "a"}\n')
        good, bad = readers.read_jsonl_quarantine(
            spark, str(p), "id long, name string")
        assert good.count() == 1 and bad.count() == 0

    def test_file_stream(self, spark, tmp_path):
        src = tmp_path / "in"
        src.mkdir()
        spark.range(5).write.parquet(str(src / "batch0"))
        df = readers.file_stream(spark, str(src / "*"), fmt="parquet",
                                 schema="id long")
        assert df.isStreaming


class TestTempTable:
    def test_materialize_severs_lineage(self, spark, simple3, tmp_path):
        opts = WriterOptions(path=str(tmp_path), mode="overwrite")
        out = writer.materialize_temp_table(simple3, "t", opts)
        assert out.count() == 3
        # re-read frame scans files, not the in-memory parent
        assert "Scan parquet" in out._jdf.queryExecution().simpleString() \
            or "FileScan" in out._jdf.queryExecution().executedPlan().toString()

    def test_temp_write_always_overwrites(self, spark, simple3, tmp_path):
        """r5 review fix: the temp write is a per-run plan break — a
        caller's default append mode must not accumulate prior runs'
        rows in {table}_temp and feed them back."""
        opts = WriterOptions(path=str(tmp_path))  # default mode='append'
        assert writer.materialize_temp_table(simple3, "t", opts).count() == 3
        assert writer.materialize_temp_table(simple3, "t", opts).count() == 3

    def test_engine_with_temp_table(self, spark, simple3, tmp_path):
        cfg = DQConfig(
            product_id="p1", table_name="t", write_error_table=False,
            use_temp_table=True,
            temp_writer=WriterOptions(path=str(tmp_path), mode="overwrite"))
        rules = RuleSet([Rule("p1", "t", "row_dq", "gt1", "col1", "col1 > 1")])
        res = DQEngine(cfg).run(simple3, rules, spark)
        assert res.input_count == 3 and res.error_count == 1
        assert spark.read.parquet(str(tmp_path / "t_temp")).count() == 3


class TestTableProperties:
    def test_show_and_set(self, spark, tmp_path):
        spark.sql("CREATE DATABASE IF NOT EXISTS dq_test")
        spark.range(3).write.mode("overwrite").saveAsTable("dq_test.props_t")
        try:
            writer.set_table_properties(
                spark, "dq_test.props_t", {"product_id": "p1"})
            props = writer.get_table_properties(spark, "dq_test.props_t")
            assert props.get("product_id") == "p1"
        finally:
            spark.sql("DROP TABLE IF EXISTS dq_test.props_t")

    def test_quote_in_value_round_trips(self, spark):
        """r5 review fix: a value containing a single quote must not
        break (or inject into) the ALTER TABLE statement."""
        spark.sql("CREATE DATABASE IF NOT EXISTS dq_test")
        spark.range(1).write.mode("overwrite").saveAsTable("dq_test.props_q")
        try:
            writer.set_table_properties(
                spark, "dq_test.props_q", {"note": "it's v2"},
                retries=1, backoff_s=0.01)
            props = writer.get_table_properties(spark, "dq_test.props_q")
            assert props.get("note") == "it's v2"
        finally:
            spark.sql("DROP TABLE IF EXISTS dq_test.props_q")

    def test_set_retries_then_raises(self, spark):
        with pytest.raises(Exception):
            writer.set_table_properties(
                spark, "dq_test.missing_table", {"a": "b"},
                retries=2, backoff_s=0.01)
