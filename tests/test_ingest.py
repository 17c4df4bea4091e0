"""Ingestion matrix (SURVEY.md §2.1): routing, row_id convention,
error cases, save sinks, results shaping."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sutro_spark.operators.results import order_results, positional_join, save_results
from sutro_spark.sources.ingest import (
    ROW_ID,
    from_list,
    prepare_input_data,
    read_text,
    with_row_id,
)


def test_list_source_preserves_order(spark):
    df = prepare_input_data(spark, ["b", "a", "c"])
    rows = df.orderBy(ROW_ID).collect()
    assert [r["prompt"] for r in rows] == ["b", "a", "c"]
    assert [r[ROW_ID] for r in rows] == [0, 1, 2]


def test_records_source(spark):
    df = prepare_input_data(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert set(df.columns) == {ROW_ID, "a", "b"}
    assert df.count() == 2


def test_pandas_source_and_column_check(spark):
    pdf = pd.DataFrame({"text": ["p", "q"], "k": [1, 2]})
    df = prepare_input_data(spark, pdf, column="text")
    assert df.orderBy(ROW_ID).first()["text"] == "p"
    with pytest.raises(ValueError, match="not present"):
        prepare_input_data(spark, pdf, column="missing")


def test_txt_source_strips_lines(spark, tmp_path):
    p = tmp_path / "prompts.txt"
    p.write_text("  hello \nworld\n")
    df = read_text(spark, str(p))
    vals = {r["prompt"] for r in df.collect()}
    assert vals == {"hello", "world"}


def test_extensionless_path_routes_to_text(spark, tmp_path):
    p = tmp_path / "rawfile"
    p.write_text("line1\nline2\n")
    assert prepare_input_data(spark, str(p)).count() == 2


def test_parquet_path_routes_to_the_parquet_reader(spark, tmp_path):
    p = tmp_path / "in.Parquet"
    pd.DataFrame({"prompt": ["x", "y", "z"]}).to_parquet(p)
    df = prepare_input_data(spark, str(p))
    assert ROW_ID in df.columns
    assert sorted(r["prompt"] for r in df.collect()) == ["x", "y", "z"]


def test_unsupported_inputs_raise(spark):
    with pytest.raises(ValueError, match="unsupported file type"):
        prepare_input_data(spark, "data.xlsx")
    with pytest.raises(ValueError, match="unsupported input data type"):
        prepare_input_data(spark, 42)
    with pytest.raises(ValueError, match="empty"):
        prepare_input_data(spark, [])
    with pytest.raises(ValueError, match="column"):
        prepare_input_data(spark, "dataset-foo")  # dataset refs need a column


def test_dataset_reference_resolves_table(spark):
    spark.createDataFrame([(1, "x")], "id long, text string").createOrReplaceTempView("mytab")
    df = prepare_input_data(spark, "dataset-mytab", column="text")
    assert df.count() == 1 and "text" in df.columns


def test_with_row_id_idempotent_and_ordered(spark, documents):
    df = with_row_id(documents, order_by=["doc_id"])
    again = with_row_id(df)  # already minted → unchanged
    assert again.columns == df.columns
    first = df.orderBy(ROW_ID).limit(3).select("doc_id").collect()
    assert [r["doc_id"] for r in first] == [0, 1, 2]


def test_positional_join_requires_row_id_and_no_overlap(spark):
    a = from_list(spark, ["x"])
    b = spark.createDataFrame([(0, 1)], f"{ROW_ID} long, v long")
    assert positional_join(a, b).first()["v"] == 1
    with pytest.raises(ValueError, match="lacks"):
        positional_join(a.drop(ROW_ID), b)
    with pytest.raises(ValueError, match="collision"):
        positional_join(a, b.withColumnRenamed("v", "prompt"))


def test_order_results_shape(spark):
    df = spark.createDataFrame(
        [(1, 0, "m", "out", -0.5)],
        f"id long, {ROW_ID} long, meta string, outputs string, cumulative_logprobs double",
    )
    ordered = order_results(df, "outputs", include_logprobs=True)
    assert ordered.columns == ["id", "meta", "outputs", "cumulative_logprobs"]
    no_lp = order_results(df, "outputs")
    assert no_lp.columns == ["id", "meta", "outputs"]


def test_save_results_parquet_and_csv(spark, tmp_path):
    df = with_row_id(spark.createDataFrame([(2, "b"), (1, "a")], "id long, v string"))
    save_results(df, str(tmp_path / "out_parquet"))
    back = spark.read.parquet(str(tmp_path / "out_parquet"))
    assert ROW_ID not in back.columns and back.count() == 2
    save_results(df, str(tmp_path / "out_csv"), fmt="csv")
    assert spark.read.option("header", True).csv(str(tmp_path / "out_csv")).count() == 2
    with pytest.raises(ValueError, match="format"):
        save_results(df, str(tmp_path / "x"), fmt="json")


def test_read_jsonl_roundtrip(spark, tmp_path):
    from sutro_spark.sources.ingest import ROW_ID, read_jsonl

    p = str(tmp_path / "rows")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k bigint, s string"
    ).write.json(p)
    df = read_jsonl(spark, p, schema="k bigint, s string", order_by=["k"])
    rows = df.orderBy("k").collect()
    assert [r["k"] for r in rows] == [1, 2, 3]
    assert rows[2]["s"] is None
    assert [r[ROW_ID] for r in df.orderBy(ROW_ID).collect()] == [0, 1, 2]


def test_orc_round_trip(spark, sf_dir, tmp_path):
    from sutro_spark.sources.ingest import read_orc, write_orc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path)
    back = read_orc(spark, path, order_by=["doc_id"])
    assert back.count() == docs.count()
    assert "__row_id" in back.columns
    a = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    b = {r.doc_id: r.text for r in back.select("doc_id", "text").collect()}
    assert a == b


def test_orc_scan_pushes_filters(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from sutro_spark.sources.ingest import write_orc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "docs_orc2")
    write_orc(docs, path)
    plan = (
        spark.read.orc(path)
        .where(F.col("doc_id") < 10)
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "LessThan(doc_id,10)" in plan
