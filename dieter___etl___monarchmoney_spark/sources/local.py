"""Driver-side rows as a frame.

The few tables the driver builds itself (the control row, union-find
labels) become frames through Arrow: ``createDataFrame`` over a
``pyarrow.Table`` plans a JVM-local ``LocalRelation``, so an action over
it starts no Python worker. The same call over a Python list plans a
scan of a Python RDD, and every action over it starts one (a one-row
parquet write measured 1.0-1.2 s that way against 0.15-0.17 s from
Arrow, on local[4]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, columns: dict[str, list]) -> DataFrame:
    """A frame with one column per ``columns`` entry, in order. Column
    types are Arrow's inference, which matches Spark's row inference for
    the plain values passed here (int → bigint, str → string); every
    column is nullable, as with row inference. ``columns`` must hold at
    least one row: Arrow types an empty list as null."""
    import pyarrow as pa  # deferred: only driver-built frames need it

    return spark.createDataFrame(pa.table(columns))
