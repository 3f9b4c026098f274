"""Pandas-UDF surface: same results as the native expressions, Arrow-batched."""

from __future__ import annotations

from etl_german_fhir_core_spark.functions.text import token_count
from etl_german_fhir_core_spark.functions.vectorized import token_count_pd


def test_token_count_pd_matches_native(spark):
    df = spark.createDataFrame(
        [("hello, world!",), ("one two  three",), ("",), (None,)], "text string"
    )
    out = df.select(
        token_count("text").alias("native"), token_count_pd("text").alias("pd")
    ).collect()
    for r in out:
        assert r["native"] == r["pd"], r
