"""session.local_df: a small driver-local frame that never turns a
value into NULL behind the caller's back, built on one split."""

from __future__ import annotations

import pytest

from temp_data_pipeline_spark.session import local_df


def test_round_trip_on_one_split(spark):
    df = local_df(spark, [(1, "x", 0.5), (2**62, None, None)], "a long, b string, c double")
    assert df.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in df.collect()] == [(1, "x", 0.5), (2**62, None, None)]


def test_short_row_raises(spark):
    with pytest.raises(ValueError, match="1 values, the schema has 2 fields"):
        local_df(spark, [(1,)], "a long, b string")


def test_value_beyond_int64_raises(spark):
    with pytest.raises(Exception):
        local_df(spark, [(2**70,)], "a long").collect()


def test_value_of_the_wrong_type_raises(spark):
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        local_df(spark, [("x",)], "a double").collect()
