import json
import os

from pyspark.sql import functions as F

from node_etl_spark.context import Context
from node_etl_spark.operators import Filter, Mapper, Splitter
from node_etl_spark.pipeline import Catalog, Pipeline
from node_etl_spark.sources import (
    FrameSource,
    JsonArraySink,
    NdjsonSink,
    NdjsonSource,
)


def test_pipeline_compose_and_nested(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    inner = Pipeline([Mapper({"v": "v + 1"})])  # nested pipeline as transform
    pipe = Pipeline([FrameSource(df), Filter("v % 2 = 0"), inner])
    out = pipe.run(spark)
    assert sorted(r.v for r in out.collect()) == [1, 3, 5, 7, 9]


def test_catalog_resolution_error():
    cat = Catalog()
    try:
        Pipeline(["missing-job"], catalog=cat)
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_catalog_named_chain(spark):
    cat = Catalog()
    df = spark.createDataFrame([(1,), (2,)], "v int")
    cat.save(FrameSource(df, name="src"))
    cat.save(Filter("v > 1", name="flt"))
    out = Pipeline(["src", "flt"], catalog=cat).run(spark)
    assert [r.v for r in out.collect()] == [2]


def test_ndjson_sink_source_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    dest = str(tmp_path / "out")
    Pipeline([FrameSource(df), NdjsonSink(dest)]).run(spark)
    back = NdjsonSource(dest).load(spark, Context())
    assert {(r.id, r.s) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_json_array_sink(spark, tmp_path):
    # reference WriterJSON emits one JSON array document
    df = spark.createDataFrame([(1,), (2,)], "v int")
    dest = str(tmp_path / "arr.json")
    JsonArraySink(dest).write(df, Context())
    with open(dest) as fh:
        data = json.load(fh)
    assert sorted(d["v"] for d in data) == [1, 2]


def test_json_array_sink_keeps_explicit_nulls_and_nesting(spark, tmp_path):
    # the JVM to_json serialization path must keep "k": null entries
    # (ignoreNullFields=false — JSON.stringify parity with the
    # reference WriterJSON) and round-trip nested arrays/structs the
    # way the old python json.dump of asDict(recursive=True) did
    df = spark.createDataFrame(
        [(1, None, [1, 2], {"a": "x"}), (2, "s", [], {"a": None})],
        "id bigint, tag string, xs array<int>, st struct<a string>",
    )
    dest = str(tmp_path / "arr.json")
    JsonArraySink(dest).write(df, Context())
    raw = open(dest).read()
    assert '"tag":null' in raw.replace(" ", "")  # explicit null kept
    data = sorted(json.load(open(dest)), key=lambda d: d["id"])
    assert data == [
        {"id": 1, "tag": None, "xs": [1, 2], "st": {"a": "x"}},
        {"id": 2, "tag": "s", "xs": [], "st": {"a": None}},
    ]


def test_json_array_sink_pins_timestamp_and_date_format(spark, tmp_path):
    # the JVM to_json path emits ISO-8601 for dates/timestamps
    # (JSON.stringify parity). Pin the exact rendering so a format
    # regression (e.g. back to python str()) fails loudly.
    import datetime

    df = spark.createDataFrame(
        [
            (
                1,
                datetime.datetime(2024, 3, 5, 12, 30, 45, 123000),
                datetime.date(2024, 3, 5),
            )
        ],
        "id bigint, ts timestamp, d date",
    )
    dest = str(tmp_path / "arr.json")
    JsonArraySink(dest).write(df, Context())
    data = json.load(open(dest))
    assert data == [
        {"id": 1, "ts": "2024-03-05T12:30:45.123Z", "d": "2024-03-05"}
    ]


def test_json_array_sink_pins_non_finite_doubles(spark, tmp_path):
    # NaN and +-Inf have no JSON token: the sink emits them as quoted
    # strings (Jackson to_json), where the reference's JSON.stringify
    # emits null — a pinned deviation recorded in the CHANGELOG
    df = spark.createDataFrame(
        [(1, float("nan")), (2, float("inf")), (3, float("-inf")), (4, 1.5)],
        "id bigint, x double",
    )
    dest = str(tmp_path / "arr.json")
    JsonArraySink(dest).write(df, Context())
    # a bare NaN/Infinity token would parse back as a float, not a str
    data = sorted(json.load(open(dest)), key=lambda d: d["id"])
    assert [d["x"] for d in data] == ["NaN", "Infinity", "-Infinity", 1.5]


def test_json_array_sink_dotted_column_names(spark, tmp_path):
    # literal column names containing dots must serialize as-is, not
    # be parsed as nested-field references (the F.col(c) hazard)
    df = spark.createDataFrame([(1, "x")], ["a.b", "plain"])
    dest = str(tmp_path / "arr.json")
    JsonArraySink(dest).write(df, Context())
    assert json.load(open(dest)) == [{"a.b": 1, "plain": "x"}]


def test_json_array_sink_refuses_duplicate_columns(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([(1, 2)], "v int, w int").selectExpr(
        "v", "w AS v"
    )
    with pytest.raises(ValueError, match="duplicate column names"):
        JsonArraySink(str(tmp_path / "arr.json")).write(df, Context())


def test_splitter_routed_row_conservation(spark, tmp_path):
    # reference job-splitter.js routed mode: each row to exactly one receiver
    df = spark.createDataFrame([(i,) for i in range(20)], "v int")
    d0, d1 = str(tmp_path / "even"), str(tmp_path / "odd")
    split = Splitter([NdjsonSink(d0), NdjsonSink(d1)], route="v % 2")
    Pipeline([FrameSource(df), split]).run(spark)
    ev = spark.read.json(d0)
    od = spark.read.json(d1)
    assert ev.count() + od.count() == 20
    assert ev.filter("v % 2 != 0").count() == 0
    assert od.filter("v % 2 != 1").count() == 0


def test_splitter_broadcast_mode(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(5)], "v int")
    dests = [str(tmp_path / f"d{i}") for i in range(2)]
    Splitter([NdjsonSink(d) for d in dests]).write(df, Context())
    for d in dests:
        assert spark.read.json(d).count() == 5


def test_run_async_stop_cancels_midflight(spark, sf_dir):
    # a deliberately huge drain; stop() must kill it well before it ends
    import time

    from node_etl_spark.operators.rowops import Mapper
    from node_etl_spark.sources import FrameSource

    big = (
        spark.range(20_000_000_000)
        .selectExpr("id", "id * 2 AS v")
    )
    pipe = Pipeline([FrameSource(big), Mapper(exprs={"s": "id + v"})])
    h = pipe.run_async(spark)
    deadline = time.time() + 30
    # wait until tasks are actually running, then cancel
    while time.time() < deadline and h.running and not spark.sparkContext.statusTracker().getActiveJobsIds():
        time.sleep(0.1)
    h.stop()
    assert h.wait(timeout=60), "cancelled run did not terminate"
    assert h.stopped and h.rows is None
    assert h.error is not None  # Spark raises 'cancelled as part of job group'


def test_run_async_completes_without_stop(spark, sf_dir):
    from node_etl_spark.sources import ParquetSource

    pipe = Pipeline([ParquetSource(f"{sf_dir}/nation.parquet")])
    h = pipe.run_async(spark)
    assert h.wait(timeout=120)
    assert h.error is None and h.rows and h.rows > 0
