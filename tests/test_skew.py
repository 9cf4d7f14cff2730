"""Skew-mitigation rewrites must be result-identical to their plain
counterparts (semantics first, then shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR
from trace_data_pipeline_spark.operators.skew import (
    salted_aggregate,
    skewed_key_split_join,
    top_frequent_keys,
)
from trace_data_pipeline_spark.sources import load_table


def _sorted_pdf(df):
    pdf = df.toPandas()
    return pdf[sorted(pdf.columns)].sort_values(sorted(pdf.columns)).reset_index(
        drop=True
    )


def test_salted_aggregate_equals_plain(spark):
    li = load_table(spark, TEST_SF_DIR, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q"),
        F.count("l_orderkey").alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    salted = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "q": ("l_quantity", "sum"),
            "n": ("l_orderkey", "count"),
            "lo": ("l_extendedprice", "min"),
            "hi": ("l_extendedprice", "max"),
        },
        salts=16,
    )
    assert _sorted_pdf(plain).equals(_sorted_pdf(salted))


def test_hot_cold_split_join_equals_plain(spark):
    li = load_table(spark, TEST_SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    sup = load_table(spark, TEST_SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    hot = top_frequent_keys(li, ["l_suppkey"], top_n=3).select("l_suppkey")
    split = skewed_key_split_join(li, sup, ["l_suppkey"], hot_keys=hot)
    plain = li.join(sup, ["l_suppkey"])
    assert _sorted_pdf(plain).equals(_sorted_pdf(split))


def test_salt_is_deterministic(spark):
    """Salts must be stable across evaluations (task-retry safety)."""
    from trace_data_pipeline_spark.operators.skew import with_salt

    li = load_table(spark, TEST_SF_DIR, "lineitem")
    a = with_salt(li, 16).groupBy("__salt").count().toPandas()
    b = with_salt(li, 16).groupBy("__salt").count().toPandas()
    assert a.sort_values("__salt").equals(b.sort_values("__salt"))

def test_split_and_salted_joins_reject_small_side_preserving(spark):
    """Small-side-preserving joins would emit small rows from both legs
    of the split join — it must refuse them, and the guard must accept
    every Spark alias of the valid types (round-12 review)."""
    import pytest

    big = spark.createDataFrame([(1, "x")], "k int, a string")
    small = spark.createDataFrame([(1, "y"), (2, "z")], "k int, b string")
    hot = spark.createDataFrame([(1,)], "k int")
    for how in ("right", "full", "outer", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="preserve the small side"):
            skewed_key_split_join(big, small, ["k"], hot_keys=hot, how=how)
    # aliases of the valid big-side-preserving types must pass
    for how in ("semi", "leftsemi", "left_semi", "anti", "leftanti",
                "leftouter", "left"):
        assert (
            skewed_key_split_join(
                big, small, ["k"], hot_keys=hot, how=how
            ).count()
            >= 0
        )
