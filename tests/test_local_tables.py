"""Constant tables built on the driver (session.local_frame) plan as a
JVM ``LocalTableScan``, never a Python-backed ``Scan ExistingRDD``, and
keep the rows and schemas of the Python constants they come from."""

import pytest
from pyspark.sql import functions as F

from socialmapper_spark.functions.neighbors import STATE_NEIGHBORS, state_neighbors_table
from socialmapper_spark.functions.states import STATES, state_dim
from socialmapper_spark.functions.travel import TRAVEL_MODE_CONFIGS, travel_mode_table
from socialmapper_spark.operators.stats import global_rank
from socialmapper_spark.session import local_frame


def _assert_jvm_local(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_local_frame_keeps_schema_nulls_and_binary(spark):
    df = local_frame(spark, [("a", None), ("b", b"\x01\x03")], "id string, wkb binary")
    _assert_jvm_local(df)
    assert df.schema.simpleString() == "struct<id:string,wkb:binary>"
    assert sorted(map(tuple, df.collect())) == [("a", None), ("b", bytearray(b"\x01\x03"))]


def test_local_frame_empty_and_with_arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        empty = local_frame(spark, [], "bucket int")
        one = local_frame(spark, [(7,)], "bucket int")
    finally:
        spark.conf.set(key, saved)
    _assert_jvm_local(empty)
    _assert_jvm_local(one)
    assert empty.schema.simpleString() == "struct<bucket:int>"
    assert empty.count() == 0
    assert one.collect()[0][0] == 7


def test_state_dim_is_local_table(spark):
    _assert_jvm_local(state_dim(spark))


def test_state_dim_rows(spark):
    df = state_dim(spark)
    assert df.schema.simpleString() == (
        "struct<alias:string,state_name:string,state_abbr:string,state_fips:string>"
    )
    want = {
        (alias, name, abbr, fips)
        for name, abbr, fips in STATES
        for alias in (name.upper(), abbr, fips, fips.lstrip("0"))
    }
    assert sorted(map(tuple, df.collect())) == sorted(want)


def test_travel_mode_table_is_local_table(spark):
    _assert_jvm_local(travel_mode_table(spark))


def test_travel_mode_table_rows(spark):
    df = travel_mode_table(spark)
    assert df.schema.simpleString() == (
        "struct<travel_mode:string,network_type:string,default_speed_kmh:double,"
        "min_speed_kmh:double,max_speed_kmh:double>"
    )
    rows = df.collect()
    assert len(rows) == len(TRAVEL_MODE_CONFIGS)
    assert {r[0]: tuple(r[1:]) for r in rows} == TRAVEL_MODE_CONFIGS


def test_state_neighbors_table_is_local_table(spark):
    _assert_jvm_local(state_neighbors_table(spark))


def test_state_neighbors_table_rows(spark):
    df = state_neighbors_table(spark)
    assert df.schema.simpleString() == "struct<state:string,neighbor:string>"
    want = [(s, n) for s, ns in STATE_NEIGHBORS.items() for n in ns]
    assert sorted(map(tuple, df.collect())) == sorted(want)


@pytest.fixture()
def ranked(spark):
    vals = spark.range(200).select(
        F.format_string("g%03d", "id").alias("geoid"),
        (F.col("id") % 17).cast("double").alias("value"),
    )
    out, n, handle = global_rank(vals)
    yield out, n
    handle.unpersist()


def test_global_rank_offsets_are_local_table(ranked):
    _assert_jvm_local(ranked[0])


def test_global_rank_rows(ranked):
    out, n = ranked
    assert n == 200
    want = sorted(((i % 17, f"g{i:03d}") for i in range(200)))
    got = sorted((r["__rank"], r["geoid"]) for r in out.collect())
    assert got == [(k + 1, geoid) for k, (_, geoid) in enumerate(want)]
