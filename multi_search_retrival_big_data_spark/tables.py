"""Loaders for the driver's synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf*/.

At 100 TB these become partitioned/bucketed parquet datasets; the
loaders stay the same because everything downstream is expressed
against the DataFrame schema, not the file layout. `load()` is a thin
`spark.read.parquet` so Catalyst keeps predicate pushdown and column
pruning into the scan.

`local_frame()` is the one way to turn driver-held rows (query terms,
votes, centroids, reranked pages, fixtures) into a relation.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped as TIMESTAMP(NANOS) in some testdata
    generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others.
    Handle both: NANOS is read as LONG (legacy conf) and truncated to
    microseconds (identical to DuckDB's ns→us truncation); MICROS-NTZ
    arrives as timestamp_ntz and is cast to session-TZ timestamp
    (identity wall-clock under the UTC session, see session.py) so
    downstream watermarks/windows see one consistent type."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed in newer Spark → nanos files unsupported there
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # integer division — a double `/ 1000` can round UP across a
        # microsecond boundary, drifting 1µs from DuckDB's truncation
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(ts_type, TimestampType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load(spark, name, sf_dir) for name in TABLE_NAMES}


def _plain(value):
    """NumPy scalars/arrays → the Python values createDataFrame accepts
    (np.float64 is already a float; np.int64 is not an int)."""
    if isinstance(value, np.generic):
        return value.item()
    if isinstance(value, np.ndarray):
        return value.tolist()
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    return value


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver rows → a `LocalTableScan` relation, built through one
    Arrow table.

    `spark.createDataFrame(<list>, ddl)` plans as `Scan ExistingRDD`
    over a parallelized PythonRDD, so every evaluation of the frame
    (each collect, each broadcast build) starts a Python-worker stage:
    ~0.4 s on 4 cores for a handful of rows. An Arrow-built frame is a
    Catalyst `LocalRelation` held in the plan itself — no tasks, no
    workers, and exact size statistics for the broadcast planner.

    The acceptance contract is createDataFrame's: every row passes the
    same type verifier (so a float in an INT column, a wrong arity or
    an out-of-range value raises — there is no fallback path), with
    NumPy scalars and arrays accepted as their Python values."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _make_type_verifier, _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    if not isinstance(schema, StructType):
        raise ValueError(f"local_frame needs a struct DDL, got {ddl!r}")
    verify = _make_type_verifier(schema)
    plain = []
    for row in rows:
        row = tuple(_plain(v) for v in row)
        verify(row)
        plain.append(row)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([row[i] for row in plain], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all tables as temp views so spark.sql() queries mirror
    the DuckDB oracle's pre-registered views."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
