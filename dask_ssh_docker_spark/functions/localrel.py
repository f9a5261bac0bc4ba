"""Job-free local relations for bounded driver-computed frames.

``spark.createDataFrame(<python list>)`` builds a *parallelized RDD*
(``LogicalRDD``): every consumer scans it as a defaultParallelism-wide
stage (32 near-empty tasks on the bench box), a broadcast of it costs a
collect JOB, and the planner sees no size statistics.  A ``pyarrow.Table``
under ``spark.sql.execution.arrow.localRelationThreshold`` instead
produces a true ``LocalRelation``: consumed driver-side with NO job, NO
tasks, and exact size statistics (measured r14 — converting the ANN
LUT/centroid/query frames removed one 32-task stage or one broadcast
build job per consumer).  The Arrow-table path does not depend on
``spark.sql.execution.arrow.pyspark.enabled`` and holds for empty rows.

Value fidelity: rows pass through Arrow against the EXPLICIT schema, so
float64/float32/int values round-trip bit-exactly (the same Arrow path
``collect`` used to produce them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Bounded ``rows`` (list of tuples/Rows) + ``schema`` (StructType or
    DDL string) → a ``LocalRelation``-backed DataFrame, built as a
    ``pyarrow.Table`` column by column.  Field names must be unique:
    rows are split into columns by position and named by field."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    assert isinstance(schema, StructType), "schema must be a struct"
    names = schema.fieldNames()
    if len(set(names)) != len(names):
        raise ValueError(f"local_frame: duplicate field names in {names}")
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema=schema
    )
