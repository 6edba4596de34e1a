"""The local oracle checker must catch cross-engine dtype drift.

Round-3 shipped a value-identical but hash-failing oracle (q_variant_json)
because DuckDB's SUM over integers returns HUGEINT (int128 → arrow
decimal128) while Spark's SUM(int) is int64, and the old checker
stringified values so the drift was invisible.  These tests pin the
dtype-parity layer added in round 4: an uncast integer SUM in an oracle
must be flagged locally before the driver ever samples it.
"""

from __future__ import annotations

import duckdb
import pytest

import os
import sys

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    ),
)

from check_oracle import arrow_type_class, dtype_problems, spark_type_class  # noqa: E402


class FakeField:
    def __init__(self, name, dt):
        self.name, self.dataType = name, dt


class FakeSchema:
    def __init__(self, fields):
        self.fields = fields


class FakeDF:
    def __init__(self, fields):
        self.schema = FakeSchema(fields)


def test_uncast_integer_sum_is_flagged():
    """DuckDB SUM(BIGINT) → HUGEINT → arrow decimal128 ≠ Spark int64."""
    from pyspark.sql import types as T

    con = duckdb.connect()
    tbl = con.execute("SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)").arrow()
    sdf = FakeDF([FakeField("s", T.LongType())])
    problems = dtype_problems(sdf, tbl)
    assert problems and "dtype[s]" in problems[0], problems
    assert "decimal" in problems[0]


def test_cast_integer_sum_is_clean():
    from pyspark.sql import types as T

    con = duckdb.connect()
    tbl = con.execute(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)"
    ).arrow()
    sdf = FakeDF([FakeField("s", T.LongType())])
    assert dtype_problems(sdf, tbl) == []


def test_float_vs_int_drift_is_flagged():
    from pyspark.sql import types as T

    con = duckdb.connect()
    tbl = con.execute("SELECT AVG(x) AS m FROM (VALUES (2), (2)) t(x)").arrow()
    sdf = FakeDF([FakeField("m", T.LongType())])
    problems = dtype_problems(sdf, tbl)
    assert problems and "spark=int duck=float" in problems[0]


def test_type_class_collapse():
    """Both engines' physically-different-but-hash-equal types collapse."""
    import pyarrow as pa
    from pyspark.sql import types as T

    assert spark_type_class(T.IntegerType()) == spark_type_class(T.LongType()) == "int"
    assert arrow_type_class(pa.int32()) == arrow_type_class(pa.int64()) == "int"
    assert spark_type_class(T.DoubleType()) == arrow_type_class(pa.float64()) == "float"
    assert spark_type_class(T.StringType()) == arrow_type_class(pa.large_string()) == "str"
    assert (
        spark_type_class(T.ArrayType(T.IntegerType()))
        == arrow_type_class(pa.list_(pa.int64()))
        == "array"
    )

def test_nested_output_is_flagged():
    """Round-5's q_embed_centroid red: an ARRAY<DOUBLE> output column is
    value-correct under the local canonicalizer but the DRIVER hashes via
    pandas sort_values, where list cells raise TypeError.  Any top-level
    ARRAY/MAP/STRUCT on an oracle-backed query must fail locally first."""
    from pyspark.sql import types as T

    from check_oracle import nested_output_problems

    sdf = FakeDF(
        [
            FakeField("label", T.StringType()),
            FakeField("centroid", T.ArrayType(T.DoubleType())),
            FakeField("meta", T.MapType(T.StringType(), T.LongType())),
            FakeField("pair", T.StructType([T.StructField("a", T.LongType())])),
        ]
    )
    problems = nested_output_problems(sdf)
    assert len(problems) == 3, problems
    assert any("centroid" in p and "array" in p for p in problems)
    assert any("meta" in p and "map" in p for p in problems)
    assert any("pair" in p and "struct" in p for p in problems)


def test_scalar_output_is_clean():
    from pyspark.sql import types as T

    from check_oracle import nested_output_problems

    sdf = FakeDF(
        [
            FakeField("label", T.StringType()),
            FakeField("mean_value", T.DoubleType()),
            FakeField("n_vecs", T.LongType()),
        ]
    )
    assert nested_output_problems(sdf) == []
