"""tables.local_frame — the one way the package turns driver rows into a
relation. Contract: the same schema and rows as
`spark.createDataFrame(rows, ddl)`, planned as a LocalTableScan, and a
row that does not fit the schema raises (no fallback path)."""

from __future__ import annotations

import ast
import math
import pathlib
import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import SparkSession

from multi_search_retrival_big_data_spark import tables

DDL = "a BIGINT, b INT, c DOUBLE, d STRING, e ARRAY<DOUBLE>"
I64_MIN, I64_MAX = -(2**63), 2**63 - 1

CASES = {
    "zero_rows": ([], DDL),
    "all_null": ([(None, None, None, None, None)], DDL),
    "plain": ([(1, 2, 0.5, "x", [1.0, 2.5]), (3, -4, 1e300, "", [])], DDL),
    "nonfinite": (
        [
            (1, 1, math.nan, "nan", [math.nan, -0.0]),
            (2, 2, math.inf, "inf", [math.inf, -math.inf]),
            (3, 3, -math.inf, "-inf", [0.0]),
            (4, 4, -0.0, "-0", [-0.0, None]),
        ],
        DDL,
    ),
    "int64_extremes": ([(I64_MIN, -(2**31), 0.0, "lo", []), (I64_MAX, 2**31 - 1, 0.0, "hi", [])], DDL),
    "single_bigint": ([(1,), (5,), (9,)], "doc_id BIGINT"),
}


def _bits(v):
    """Row values with every double as its IEEE bit pattern (NaN, -0.0
    and ±inf compare exactly; NaN != NaN would hide a difference)."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


def _rows(df):
    return [_bits(tuple(r)) for r in df.collect()]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, ddl = CASES[case]
    got = tables.local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema  # names, types and nullability
    assert _rows(got) == _rows(ref)
    assert _plan(got).startswith("LocalTableScan")


def test_local_frame_accepts_numpy_scalars(spark):
    np_rows = [
        (np.int64(I64_MAX), np.int32(-7), np.float64(-0.0), "np", np.array([np.nan, 1.5])),
        (np.int64(I64_MIN), np.int32(7), np.float32(0.25), "np32", [np.float64(math.inf)]),
    ]
    # createDataFrame rejects np.int64 itself; the helper takes NumPy
    # values as the Python values they stand for
    py_rows = [
        (I64_MAX, -7, -0.0, "np", [math.nan, 1.5]),
        (I64_MIN, 7, 0.25, "np32", [math.inf]),
    ]
    got = tables.local_frame(spark, np_rows, DDL)
    ref = spark.createDataFrame(py_rows, DDL)
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)
    assert _plan(got).startswith("LocalTableScan")


@pytest.mark.parametrize(
    "row",
    [
        ("x", 1, 1.0, "s", []),  # string in BIGINT
        (1, 2**31, 1.0, "s", []),  # INT overflow
        (1, 1.5, 1.0, "s", []),  # float in INT (Arrow alone would truncate)
        (1.0, 1, 1.0, "s", []),  # float in BIGINT
        (1, 1, "x", "s", []),  # string in DOUBLE
        (1, 1, 1.0, "s", ["x"]),  # string in ARRAY<DOUBLE>
        (True, 1, 1.0, "s", []),  # bool in BIGINT
        (1, 1, 1.0),  # wrong arity
    ],
)
def test_local_frame_rejects_rows_that_do_not_fit(spark, monkeypatch, row):
    calls = []
    real = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        calls.append(type(data))
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    with pytest.raises((TypeError, ValueError)):
        tables.local_frame(spark, [row], DDL).collect()
    # no fallback: a bad row never reaches the row-based constructor
    assert all(t is pa.Table for t in calls)


def test_local_frame_rejects_non_struct_ddl(spark):
    with pytest.raises(ValueError):
        tables.local_frame(spark, [(1,)], "BIGINT")


def test_no_create_dataframe_outside_local_frame():
    """The package has one way to build a literal relation: a
    `createDataFrame(` call elsewhere brings back the PythonRDD path
    (a Python-worker stage on every evaluation)."""
    pkg = pathlib.Path(tables.__file__).parent
    helper = next(
        n
        for n in ast.parse(pathlib.Path(tables.__file__).read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            if path.name == "tables.py" and helper.lineno <= lineno <= helper.end_lineno:
                continue
            offenders.append(f"{path.relative_to(pkg)}:{lineno}")
    assert not offenders, f"use tables.local_frame instead: {offenders}"
