"""Registered queries hash-match their DuckDB oracle at sf0.001.

This is the same gate the driver applies at sf0.01 (CORRECTNESS_r{N});
running it in CI at the smallest SF keeps the loop fast. Every
registered query runs, not just a leading subset: a change to global
semantics (session configs, shared helpers) must not regress any
registered query unnoticed.
"""

from __future__ import annotations

import pytest

from instagram_data_pipeline_spark.queries import load_all
from instagram_data_pipeline_spark.testing import compare_to_oracle, duck_connection

REGISTRY = load_all()


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = REGISTRY[name]
    sdf = spec.spark_fn(spark, sf_dir)
    if spec.oracle is None:
        # rows-only contract: must at least run and return a stable schema
        assert sdf.columns
        sdf.collect()
        return
    problems = compare_to_oracle(sdf, duck, spec.oracle)
    assert not problems, f"{name}: {problems}"


def test_nested_output_guard_catches_array_column(spark):
    """Seeded negative: the harness-faithfulness guard must reject an
    ARRAY-valued output column the way the driver's pandas canonicalizer
    would (VERDICT r5 #1)."""
    from instagram_data_pipeline_spark.testing import nested_output_columns

    df = spark.sql("SELECT 1 AS id, array(1.0, 2.0) AS projected")
    assert nested_output_columns(df) == ["projected"]
    import duckdb

    con = duckdb.connect()
    problems = compare_to_oracle(
        df, con, "SELECT 1 AS id, [1.0, 2.0] AS projected"
    )
    assert problems and "nested" in problems[0]
