"""``local_rows``: driver-built tables that reach the JVM as one Arrow
batch. Values must round-trip exactly, the schema must be the DDL's
(nullable, as with a list given to ``createDataFrame``), and reading the
frame must not start a Python worker."""

from __future__ import annotations

import math
import struct
from itertools import zip_longest

import pytest
from pyspark.sql.types import StructType

from cim_framework_graph_partitioning_spark.plans.superstep import local_rows

DDL = "n long, x double, s string, v array<double>"

LONGS = [2**63 - 1, -(2**63 - 1), -(2**63), 0, 2**53 + 1]
DOUBLES = [0.1, -0.0, 1e-300, float(2**53 + 1), math.nan, math.inf, -math.inf]
STRINGS = ["it's", "back\\slash", "naïve — ünïcödé 图", "", None]
ARRAYS = [[0.1, -0.0, math.nan], [], None, [1e-300, math.inf, -math.inf]]


def _rows():
    return list(zip_longest(LONGS, DOUBLES, STRINGS, ARRAYS))


def _bits(x):
    """Exact identity of a value: doubles by bit pattern (tells -0.0
    from 0.0 and compares NaN), lists element-wise."""
    if isinstance(x, float):
        return struct.pack("<d", x)
    if isinstance(x, list):
        return [_bits(e) for e in x]
    return x


def _plan_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_values_round_trip_exactly(spark):
    rows = _rows()
    got = [tuple(r) for r in local_rows(spark, rows, DDL).collect()]
    assert [_bits(list(r)) for r in got] == [_bits(list(r)) for r in rows]


def test_zero_rows(spark):
    df = local_rows(spark, [], DDL)
    assert df.collect() == []
    assert df.schema == StructType.fromDDL(DDL)


def test_schema_is_the_ddl_with_list_nullability(spark):
    rows = _rows()
    df = local_rows(spark, rows, DDL)
    assert df.schema == StructType.fromDDL(DDL)
    assert df.schema == spark.createDataFrame(rows, DDL).schema
    assert all(f.nullable for f in df.schema.fields)


def test_overflow_is_rejected(spark):
    with pytest.raises(Exception):
        local_rows(spark, [(2**63,)], "n long")


@pytest.mark.parametrize("arrow_conf", ["true", "false"])
def test_no_python_worker_in_lineage(spark, arrow_conf):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, arrow_conf)
    try:
        df = local_rows(spark, _rows(), DDL)
        assert "PythonRDD" not in _plan_lineage(df)
        # control: the list form does run a PythonRDD, so the check sees it
        assert "PythonRDD" in _plan_lineage(spark.createDataFrame(_rows(), DDL))
    finally:
        spark.conf.set(key, saved)
